package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{Curation, Dedup}
import graft.sources.Tables

/** The `Cached` lifetime rule, observed in the session's cache
  * manager: a registry key called again in the same session adds no
  * cache entry (its pins have the same plan as the first call's, or
  * are released before it returns), and an eager door returns with
  * nothing left pinned. The eight keys whose pins once sat over a
  * per-call plan, plus three that always held, are each called twice.
  */
class CacheLifetimeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  // CacheManager.numCachedEntries is sql-private, hence reflection
  private def entries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm)
      .asInstanceOf[Int]
  }

  // building the key's frame runs every pin and release it makes (the
  // eager parts run at construction); executing the lazy result
  // persists nothing, so it is not needed here
  private def run(key: String): Unit = SparkEntry.queries(key)(spark, dir)

  private val keys = Seq(
    "q_media_pipeline", "q_audio_ann", "q_audio_dedup",
    "q_curate_pipeline", "q_curate_report", "q_curate_report_lines",
    "q_curate_report_sent", "q_extract_pipeline",
    // controls: repeat calls reused their entries before the rule too
    "q_pagerank_full", "q_winnow_groups", "q_decontaminate_bloom")

  for (key <- keys)
    test(s"$key: a second call in the session adds no cache entry") {
      run(key)
      val before = entries
      run(key)
      assert(entries == before,
        s"$key: ${entries - before} cache entries added by the second call")
    }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("updateGramIndex is eager: it leaves no cache entry behind") {
    import spark.implicits._
    val docs = Seq((1L, "the alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa lambda")).toDF("doc_id", "text")
    val added = Seq((3L, "the alpha beta gamma mu nu xi"))
      .toDF("doc_id", "text")
    val root = tmp("graft-cache-gram")
    val (idx, out) = (s"$root/idx", s"$root/out")
    Dedup.writeGramIndex(docs, idx)
    val before = entries
    Dedup.updateGramIndex(spark, idx, out, docs.where($"doc_id" === 2L),
      added)
    assert(entries == before)
    assert(spark.read.parquet(out).count() > 0)
  }

  test("incrEpoch is eager: it leaves no cache entry behind") {
    val (o, n) = Curation.snapshotPair(
      Tables(spark, dir, "documents").where("doc_id % 4 = 0"))
    val before = entries
    val card = Dedup.incrEpoch(spark, o, n, tmp("graft-cache-epoch").toString)
    assert(entries == before)
    assert(card.count() == 11)
  }

  test("only graft.Cached persists, unpersists or names a StorageLevel") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Cached.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Seq(".persist(", ".unpersist(", "StorageLevel")
              .exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
