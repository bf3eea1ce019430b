package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextOps}
import graft.streaming.DocStream

/** End-to-end composed streaming curation (the q_curate_pipeline
  * twin): JSONL files → holdout → clean → contam → frozen probe →
  * band claim → DSIR-annotated idempotent landing, ONE checkpoint —
  * including kill + resume with claim-state recovery, and closed-batch
  * PARITY of every annotation against the batch operators on the same
  * fixture.
  */
class CuratePipelineSpec extends SparkSuite {
  import spark.implicits._

  private val text1 =
    "the quick brown fox is one of the animals in the list of words"
  // same DISTINCT token set as text1 (same band), different text
  private val text1Reorder =
    "words of list the in animals the of one is fox brown quick the"
  private val text4 =
    "a different second document is here with many more of the common words"
  private val text4Reorder =
    "words common the of more many with here is document second different a"
  private val text9 =
    "yet another genuinely new document is in the stream with plenty of words"
  private val benchText =
    "the eval suite sample question about chemistry is in this set of text"
  private val contamText =
    "my training document embeds the eval suite sample question verbatim in prose"

  private def json(id: Long, text: String, lang: String, ts: String): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "$lang", """ +
      s""""source": "s0", "ingest_ts": "$ts"}"""

  test("curatePipeline: gates compose, claims survive kill+resume, " +
      "annotations match the batch operators bit-for-bit") {
    val root = Files.createTempDirectory("graft-curatepipe").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    def land(name: String, lines: String*): Unit = {
      val tmp = new File(root, name)
      Files.write(tmp.toPath, lines.mkString("\n").getBytes)
      assert(tmp.renameTo(new File(in, name)))
    }
    // frozen models: trained ONCE on a batch corpus (both label
    // classes present), shared by the stream and the batch comparator
    val trainDocs = (0L until 20L).map(i =>
      (i, s"model training document number $i with the usual run of " +
        s"filler words token$i and more", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val probeIdx = new File(root, "probe").getPath
    val dsirIdx = new File(root, "dsir").getPath
    Curation.writeProbeIndex(trainDocs, probeIdx)
    Curation.writeDsirIndex(trainDocs, dsirIdx)
    val benchmark = Seq((10L, benchText)).toDF("doc_id", "text")

    land("b1.jsonl",
      json(1, text1, "en", "2024-01-01T10:00:00"),
      json(2, "too short", "en", "2024-01-01T10:00:01"), // clean fail
      json(3, text1, "en", "2024-01-01T10:00:02"),       // exact dup of 1
      json(4, text4, "fr", "2024-01-01T10:00:03"),
      json(5, text1Reorder, "en", "2024-01-01T10:00:04"), // near-dup of 1
      json(7, contamText, "en", "2024-01-01T10:00:05"),   // contaminated
      json(10, benchText, "en", "2024-01-01T10:00:06"))   // holdout id
    // NOT processAllAvailable(): the claim's ProcessingTimeTimeout
    // keeps the engine scheduling micro-batches, so "all available"
    // never settles — poll the landing with a deadline (the
    // nearDupDocStream spec's rationale)
    def awaitLanded(expect: Set[Long]): Set[Long] = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var got = Set.empty[Long]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(500)
        got = try spark.read.parquet(out).collect()
          .map(_.getAs[Long]("doc_id")).toSet
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Set.empty[Long] }
      }
      got
    }
    val q1 = DocStream.curatePipeline(spark,
      DocStream.fromFiles(spark, in.getPath), benchmark,
      probeIdx, dsirIdx, out, ckpt, minScore = 0.0)
    try assert(awaitLanded(Set(1L, 4L)) == Set(1L, 4L),
      "batch 1: clean/contam/holdout rejects gone, lowest-id claims land")
    finally q1.stop()

    // kill + resume: the SAME checkpoint recovers the band-claim state,
    // so re-arriving copies of batch-1 texts are still dups
    land("b2.jsonl",
      json(8, text1, "en", "2024-01-01T10:01:00"),        // exact dup of 1
      json(9, text9, "en", "2024-01-01T10:01:01"),        // fresh
      json(11, text4Reorder, "fr", "2024-01-01T10:01:02")) // near-dup of 4
    val q2 = DocStream.curatePipeline(spark,
      DocStream.fromFiles(spark, in.getPath), benchmark,
      probeIdx, dsirIdx, out, ckpt, minScore = 0.0)
    val landed = try awaitLanded(Set(1L, 4L, 9L)) finally q2.stop()
    assert(landed == Set(1L, 4L, 9L),
      s"recovered claims must reject batch-2 dups: got $landed")
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 3, "exactly one landed row per kept doc")

    // claim rejects are QUARANTINED with their verdicts, not dropped —
    // and corpus readers never see them (underscore dir, asserted by
    // the landed-set checks above reading outDir wholesale)
    val quarantined = spark.read.parquet(s"$out/_quarantine").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(quarantined == Map(3L -> "exact_dup", 5L -> "near_dup",
      8L -> "exact_dup", 11L -> "near_dup"),
      s"got $quarantined")

    // (lang, split) partition layout under per-batch dirs
    val batchDirs = new File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batchDirs.nonEmpty)
    val langDirs = new File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(langDirs.contains("lang=en") && langDirs.contains("lang=fr"))

    // closed-batch PARITY with the batch operators on the landed docs
    val docsAll = Seq((1L, text1, "en", "s0"), (4L, text4, "fr", "s0"),
      (9L, text9, "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val batchProbe = Curation.probeScoreFrom(spark, probeIdx, docsAll)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("score")).toMap
    val batchDsir = Curation.dsirScoreFrom(spark, dsirIdx, docsAll)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("log_weight")).toMap
    val batchSplit = docsAll
      .select(col("doc_id"), TextOps.splitOf().as("split")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val batchNTok = docsAll.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokenize(col("text")))
          .cast("long").as("n_tok")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tok")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Double]("probe_score") == batchProbe(id),
        s"doc $id: probe score drifted from the batch serve leg")
      assert(r.getAs[Double]("log_weight") == batchDsir(id),
        s"doc $id: DSIR weight drifted from the batch serve leg")
      assert(r.getAs[String]("split") == batchSplit(id))
      assert(r.getAs[Long]("n_tok") == batchNTok(id))
    }
  }

  // the markup front door's fixture page: an adversarial script (body
  // carries '<' and an HTML string), a link-dense nav, the prose
  // paragraph, a quoted-'>' attribute — single-quoted throughout so the
  // page embeds in a JSONL line with no escaping
  private def pageHtml(text: String): String =
    "<html><head><SCRIPT type='text/javascript'>" +
      "if (x<2){track('<b>hi</b>')}</SCRIPT></head><body>" +
      "<nav><a href='/'>Home</a> | <a href='/b'>Blog</a></nav>" +
      "<p>" + text + "</p>" +
      "<div data-note='5 > 3'>Sponsored: buy now</div>" +
      "</body></html>"

  private def pageJson(id: Long, text: String, lang: String,
      ts: String): String =
    s"""{"doc_id": $id, "html": "${pageHtml(text)}", "lang": "$lang", """ +
      s""""source": "s0", "ingest_ts": "$ts"}"""

  test("curatePipelineFromHtml: pages -> extract -> curate as ONE " +
      "checkpointed query; kill+resume; parity with the batch " +
      "curateCorpusFromHtml survivors on the same fixture") {
    val root = Files.createTempDirectory("graft-curatehtml").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    def land(name: String, lines: String*): Unit = {
      val tmp = new File(root, name)
      Files.write(tmp.toPath, lines.mkString("\n").getBytes)
      assert(tmp.renameTo(new File(in, name)))
    }
    val trainDocs = (0L until 20L).map(i =>
      (i, s"model training document number $i with the usual run of " +
        s"filler words token$i and more", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val probeIdx = new File(root, "probe").getPath
    val dsirIdx = new File(root, "dsir").getPath
    Curation.writeProbeIndex(trainDocs, probeIdx)
    Curation.writeDsirIndex(trainDocs, dsirIdx)
    val benchmark = Seq((10L, benchText)).toDF("doc_id", "text")
    // batch 1 — the PARITY batch (no reorder near-dups: the stream's
    // band claim and the batch's minhash stage agree on exact dups and
    // gate rejects; near-dup semantics are the documented divergence)
    land("p1.jsonl",
      pageJson(1, text1, "en", "2024-01-01T10:00:00"),
      pageJson(2, "too short", "en", "2024-01-01T10:00:01"), // all-boilerplate page
      pageJson(3, text1, "en", "2024-01-01T10:00:02"),       // exact dup of 1
      pageJson(4, text4, "fr", "2024-01-01T10:00:03"),
      pageJson(7, contamText, "en", "2024-01-01T10:00:04"),  // contaminated
      pageJson(10, benchText, "en", "2024-01-01T10:00:05"))  // holdout id
    def awaitLanded(expect: Set[Long]): Set[Long] = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var got = Set.empty[Long]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(500)
        got = try spark.read.parquet(out).collect()
          .map(_.getAs[Long]("doc_id")).toSet
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Set.empty[Long] }
      }
      got
    }
    val q1 = DocStream.curatePipeline(spark,
      DocStream.fromHtmlFiles(spark, in.getPath), benchmark,
      probeIdx, dsirIdx, out, ckpt, minScore = 0.0)
    try assert(awaitLanded(Set(1L, 4L)) == Set(1L, 4L),
      "extract feeds the gates: boilerplate-only page, dup, contam " +
        "and holdout all rejected; the prose pages land")
    finally q1.stop()
    // kill + resume: the recovered claim state still rejects a
    // re-arriving copy of a batch-1 text that came in as MARKUP
    land("p2.jsonl",
      pageJson(8, text1, "en", "2024-01-01T10:01:00"),  // exact dup of 1
      pageJson(9, text9, "en", "2024-01-01T10:01:01"))  // fresh
    val q2 = DocStream.curatePipeline(spark,
      DocStream.fromHtmlFiles(spark, in.getPath), benchmark,
      probeIdx, dsirIdx, out, ckpt, minScore = 0.0)
    val landed = try awaitLanded(Set(1L, 4L, 9L)) finally q2.stop()
    assert(landed == Set(1L, 4L, 9L),
      s"recovered claims must reject the batch-2 dup: got $landed")
    // claim rejects quarantined with verdicts; the all-boilerplate
    // page was a stateless gate reject — dropped, never quarantined
    val quarantined = spark.read.parquet(s"$out/_quarantine").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(quarantined == Map(3L -> "exact_dup", 8L -> "exact_dup"),
      s"got $quarantined")
    // PARITY: the landed texts equal the batch markup capstone's
    // survivors on the same pages (gopher floor lowered — the stream
    // chain has no gopher stage; these texts pass every other gate
    // identically, extraction included)
    val pages = Seq(
      (1L, pageHtml(text1), "en", "s0"),
      (2L, pageHtml("too short"), "en", "s0"),
      (3L, pageHtml(text1), "en", "s0"),
      (4L, pageHtml(text4), "fr", "s0"),
      (7L, pageHtml(contamText), "en", "s0"),
      (8L, pageHtml(text1), "en", "s0"),
      (9L, pageHtml(text9), "en", "s0"),
      (10L, pageHtml(benchText), "en", "s0"))
      .toDF("doc_id", "html", "lang", "source")
    val batchKept = Curation.curateCorpusFromHtml(pages, gopherMinTok = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text")).toMap
    val streamKept = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(streamKept == batchKept,
      s"stream=${streamKept.keySet} batch=${batchKept.keySet}")
    // the adversarial script never leaked into any landed text
    streamKept.values.foreach { t =>
      assert(!t.contains("track") && !t.contains("Sponsored"),
        s"markup leaked into '$t'")
    }
  }

  test("curatePipelineFromWarc: WARC archives -> parse -> extract -> " +
      "curate as ONE checkpointed query; kill+resume claims; poison " +
      "record tolerated") {
    val root = Files.createTempDirectory("graft-curatewarc").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    val trainDocs = (0L until 20L).map(i =>
      (i, s"model training document number $i with the usual run of " +
        s"filler words token$i and more", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val probeIdx = new File(root, "probe").getPath
    val dsirIdx = new File(root, "dsir").getPath
    Curation.writeProbeIndex(trainDocs, probeIdx)
    Curation.writeDsirIndex(trainDocs, dsirIdx)
    val benchmark = Seq((10L, benchText)).toDF("doc_id", "text")
    val urls = Map(
      "A" -> "http://s1.test/a", "B" -> "http://s2.test/b",
      "C" -> "http://s1.test/c", "D" -> "http://s3.test/d",
      "E" -> "http://s1.test/e", "F" -> "http://s1.test/f",
      "G" -> "http://s4.test/blocked/g", "H" -> "http://s4.test/blocked/h")
    // pagesStream keys docs by xxhash64(url); pick the holdout modulus
    // so NONE of the fixture ids lands on the holdout residue (the
    // %every rule is id-blind — a real intake accepts that tithe, a
    // known-answer fixture must not)
    val h = urls.view.mapValues(u =>
      Seq(u).toDF("u").select(xxhash64(col("u"))).collect()(0).getLong(0))
      .toMap
    val every = Seq(10, 7, 11, 13, 17, 19).find(e =>
      h.values.forall(v => java.lang.Math.floorMod(v, e.toLong) != 0L)).get
    // page F opts out via robots meta but would otherwise pass every
    // gate — only the robots stage can account for its absence
    def noindexHtml(text: String): String =
      "<html><head><meta name='robots' content='noindex'></head>" +
        "<body><p>" + text + "</p></body></html>"
    def pack(name: String, recs: Seq[(String, String)],
        poisonAfterFirst: Boolean = false): Unit = {
      val bytes = new java.io.ByteArrayOutputStream()
      recs.zipWithIndex.foreach { case ((url, text), i) =>
        bytes.write(graft.sources.WarcSource.packRecord(url,
          java.time.Instant.parse("2024-01-01T10:00:00Z")
            .plusSeconds(i.toLong),
          if (url == urls("F")) noindexHtml(text) else pageHtml(text)))
        if (poisonAfterFirst && i == 0)
          bytes.write("GARBAGE bytes that are not a record\r\n\r\n"
            .getBytes("UTF-8"))
      }
      val tmp = new File(root, name)
      Files.write(tmp.toPath, bytes.toByteArray)
      assert(tmp.renameTo(new File(in, name)))
    }
    def awaitLanded(expect: Set[Long]): Set[Long] = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var got = Set.empty[Long]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(500)
        got = try spark.read.parquet(out).collect()
          .map(_.getAs[Long]("doc_id")).toSet
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Set.empty[Long] }
      }
      got
    }
    // the robots.txt FILE-level rules (r14): host s4.test disallows
    // the /blocked prefix — pages G (archive 1) and H (archive 2)
    // carry clean prose that passes every other gate, so only the
    // rules gate explains their absence from landing AND quarantine,
    // and H proves the gate holds across kill+resume
    val robotsRules = Seq(("s4.test", "/blocked")).toDF("host", "prefix")
    // archive 1: two prose pages + an exact-dup TEXT under a third URL
    // (URL dedup can't see it — the band claim must)
    pack("w1.warc", Seq(urls("A") -> text1, urls("B") -> text1,
      urls("C") -> text4,
      urls("G") -> ("the first disallowed page carries clean prose " +
        "with many common words that would pass the whole gate chain")))
    val q1 = DocStream.curatePipeline(spark,
      DocStream.fromWarc(spark, in.getPath, robotsRules = Some(robotsRules)),
      benchmark, probeIdx, dsirIdx, out, ckpt, minScore = 0.0,
      benchmarkEvery = every)
    try assert(awaitLanded(Set(h("A"), h("C"))) == Set(h("A"), h("C")),
      "archive pages must parse, extract and land; the cross-URL " +
        "exact dup must not")
    finally q1.stop()
    // archive 2 carries a poison blob between records PLUS a
    // re-fetch of page A under a DECORATED url (tracking param +
    // fragment): stage-0 URL dedup drops it against the recovered
    // canonical-url state BEFORE extraction — silently (same
    // resource; the archive is the audit trail), so it must appear
    // neither in the landing nor in quarantine. The dup TEXT under a
    // genuinely different URL (D) still rejects off the recovered
    // claim state, the fresh page lands, the garbage costs nothing.
    pack("w2.warc", Seq(urls("D") -> text1, urls("E") -> text9,
      (urls("A") + "?utm_source=re&fbclid=z#top") -> text1,
      // F: a fresh prose page that OPTED OUT via robots noindex —
      // honored before any state or extraction, dropped not
      // quarantined (stateless deterministic reject); its text would
      // pass every other gate, so only the robots stage explains its
      // absence from BOTH the landing and the quarantine
      urls("F") -> ("the opted out page is otherwise one of the " +
        "cleanest documents with many common words"),
      // H: disallowed by the s4.test /blocked rule, post-resume
      urls("H") -> ("the second disallowed page also carries clean " +
        "prose with many common words for every downstream gate")),
      poisonAfterFirst = true)
    val q2 = DocStream.curatePipeline(spark,
      DocStream.fromWarc(spark, in.getPath, robotsRules = Some(robotsRules)),
      benchmark, probeIdx, dsirIdx, out, ckpt, minScore = 0.0,
      benchmarkEvery = every)
    val want = Set(h("A"), h("C"), h("E"))
    val landed = try awaitLanded(want) finally q2.stop()
    assert(landed == want, s"got $landed want $want")
    val quarantined = spark.read.parquet(s"$out/_quarantine").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(quarantined == Map(h("B") -> "exact_dup", h("D") -> "exact_dup"),
      s"got $quarantined")
    // the reader's projection rode through the whole chain: source is
    // the url host, ingest_ts the WARC-Date
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
      .toMap
    assert(rows(h("A")) == "s1.test" && rows(h("E")) == "s1.test",
      s"got $rows")
    // the audit trail for the robots drops is the archive itself: the
    // batch scorecard over the same WARC directory accounts for both
    // disallowed fetches (the stream gate's own drop is silent by the
    // stateless-reject policy)
    val audit = graft.operators.WebOps.robotsTxtAudit(
        graft.sources.WarcSource.docs(spark, in.getPath), robotsRules)
      .collect()
      .map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("n_pages"), r.getAs[Long]("n_disallowed"))))
      .toMap
    assert(audit("s4.test") == ((2L, 2L)), s"got $audit")
  }

  test("curatePipelineFromWarc with robotsRulesFull: the RFC 9309 " +
      "longest-match gate at the intake door — a longer Allow " +
      "carve-out SURVIVES the Disallow the prefix gate would apply, " +
      "the plain disallowed page drops, rule-free hosts pass") {
    val root = Files.createTempDirectory("graft-warcfull").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    val trainDocs = (0L until 20L).map(i =>
      (i, s"model training document number $i with the usual run of " +
        s"filler words token$i and more", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val probeIdx = new File(root, "probe").getPath
    val dsirIdx = new File(root, "dsir").getPath
    Curation.writeProbeIndex(trainDocs, probeIdx)
    Curation.writeDsirIndex(trainDocs, dsirIdx)
    val benchmark = Seq((10L, benchText)).toDF("doc_id", "text")
    val urls = Map(
      "CARVED" -> "http://s5.test/blocked/p10/doc",
      "BLOCKED" -> "http://s5.test/blocked/other",
      "FREE" -> "http://s6.test/free")
    val h = urls.view.mapValues(u =>
      Seq(u).toDF("u").select(xxhash64(col("u"))).collect()(0).getLong(0))
      .toMap
    val every = Seq(10, 7, 11, 13, 17, 19).find(e =>
      h.values.forall(v => java.lang.Math.floorMod(v, e.toLong) != 0L)).get
    val rulesFull = Seq(
      ("s5.test", "/blocked", false),
      ("s5.test", "/blocked/p10", true))
      .toDF("host", "prefix", "allow")
    val texts = Map(
      "CARVED" -> ("the carved out page carries clean prose with many " +
        "common words that pass the whole gate chain easily"),
      "BLOCKED" -> ("the disallowed page also carries clean prose with " +
        "many common words for every downstream gate"),
      "FREE" -> text9)
    val bytes = new java.io.ByteArrayOutputStream()
    Seq("CARVED", "BLOCKED", "FREE").zipWithIndex.foreach {
      case (k, i) =>
        bytes.write(graft.sources.WarcSource.packRecord(urls(k),
          java.time.Instant.parse("2024-01-01T10:00:00Z")
            .plusSeconds(i.toLong), pageHtml(texts(k))))
    }
    val tmp = new File(root, "w1.warc")
    Files.write(tmp.toPath, bytes.toByteArray)
    assert(tmp.renameTo(new File(in, "w1.warc")))
    val q = DocStream.curatePipeline(spark,
      DocStream.fromWarc(spark, in.getPath, robotsRulesFull = Some(rulesFull)),
      benchmark, probeIdx, dsirIdx, out, ckpt, minScore = 0.0,
      benchmarkEvery = every)
    val want = Set(h("CARVED"), h("FREE"))
    val landed = try {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var got = Set.empty[Long]
      while (got != want && System.nanoTime() < deadline) {
        Thread.sleep(500)
        got = try spark.read.parquet(out).collect()
          .map(_.getAs[Long]("doc_id")).toSet
        catch { case _: org.apache.spark.sql.AnalysisException =>
          Set.empty[Long] }
      }
      got
    } finally q.stop()
    assert(landed == want,
      s"carve-out + rule-free must land, disallowed must not: $landed")
    // the contract guard: mixing both rule forms is refused loudly
    intercept[IllegalArgumentException] {
      DocStream.fromWarc(spark, in.getPath,
        robotsRules = Some(rulesFull.select("host", "prefix")),
        robotsRulesFull = Some(rulesFull))
    }
  }
}
