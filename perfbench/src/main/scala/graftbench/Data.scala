package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Seeded input generators. Every row is a pure function of
  * (seed, table, row id), so a dataset is identical for a seed no
  * matter how Spark partitions the generating range.
  *
  * The star schema follows the shape and value ranges of the TPC-H-ish
  * tables the library is specified against (`TESTDATA.md`); the corpus
  * follows the `documents`/`embeddings` tables, with a seeded share of
  * planted near-duplicates.
  */
object Data extends Serializable {
  /** The star schema: fixed scale and seed (pay-olap's seed draws the
    * op sequence, not the data).
    */
  val StarSf = 0.1
  val StarSeed = 20261017L
  /** The corpus-curate corpora: one per near-duplicate share (%). */
  val DupPct: Seq[Int] = Seq(2, 5, 10, 20)
  val CorpusDocs = 1200L
  val CorpusVecs = 800L

  case class Region(r_regionkey: Int, r_name: String)
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Star-schema row counts at scale factor `sf` (sf 0.1 = 600k
    * lineitems, 100k events).
    */
  final case class StarSize(sf: Double) {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customers = n(150000); val suppliers = n(10000); val parts = n(200000)
    val orders = n(1500000); val lineitems = n(6000000); val events = n(1000000)
    val users = n(15000)
  }

  private def rng(seed: Long, table: Int, id: Long): SplittableRandom = {
    // splitmix-style mix of the three coordinates into one RNG seed
    var z = seed * 0x9E3779B97F4A7C15L + table * 0xBF58476D1CE4E5B9L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(r.nextInt(xs.length))

  private val Day = 86400000L
  private def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
  private val RegionNames = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PartAdj = Vector("large", "hot", "small", "cold", "shiny", "dull", "smooth", "rough")
  private val PartNoun = Vector("ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "screw")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("signup", "view", "click", "purchase", "error")
  val Vocab: Vector[String] = Vector("a", "the", "batch", "part", "spark", "line",
    "column", "order", "small", "big", "sort", "fast", "slow", "value", "scan",
    "hash", "group", "agg", "filter", "query", "key", "window", "row", "table",
    "stream", "merge", "data", "customer", "vector", "join", "of", "and", "to",
    "in", "is", "for", "on", "with", "as", "by")
  private val Langs = Vector("en", "en", "en", "zh", "de", "fr", "es")

  private def range(spark: SparkSession, n: Long) =
    spark.range(0, n, 1, math.max(1, math.min(16, (n / 50000 + 1).toInt)))

  private def gen[T: Encoder](spark: SparkSession, n: Long)(f: Long => T): Dataset[T] =
    range(spark, n).map((id: java.lang.Long) => f(id.longValue))

  /** Writes the eight star-schema tables as `<dir>/<table>.parquet`. */
  def writeStar(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import spark.implicits._
    val z = StarSize(sf)
    def save(ds: Dataset[_], name: String): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(RegionNames.zipWithIndex.map { case (n, i) => Region(i, n) }.toDS(), "region")
    save((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS(), "nation")
    save(gen(spark, z.customers) { id =>
      val r = rng(seed, 1, id)
      Customer(id, f"Customer#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        pick(r, Segments))
    }, "customer")
    save(gen(spark, z.suppliers) { id =>
      val r = rng(seed, 2, id)
      Supplier(id, f"Supplier#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }, "supplier")
    save(gen(spark, z.parts) { id =>
      val r = rng(seed, 3, id)
      Part(id, s"${pick(r, PartAdj)} ${pick(r, PartNoun)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (id % 1000) / 10.0)
    }, "part")
    val orderLo = ms("1995-01-01T00:00:00Z")
    val orderDays = ((ms("2001-08-01T00:00:00Z") - orderLo) / Day).toInt + 1
    save(gen(spark, z.orders) { id =>
      val r = rng(seed, 4, id)
      Order(id, r.nextLong(z.customers), pick(r, Vector("F", "O", "P")),
        money(r, 1000.0, 500000.0), new Timestamp(orderLo + r.nextInt(orderDays) * Day),
        pick(r, Priorities))
    }, "orders")
    val shipLo = ms("1995-01-02T00:00:00Z")
    val shipDays = ((ms("2001-11-04T00:00:00Z") - shipLo) / Day).toInt + 1
    save(gen(spark, z.lineitems) { id =>
      val r = rng(seed, 5, id)
      LineItem(r.nextLong(z.orders), r.nextLong(z.parts), r.nextLong(z.suppliers),
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")),
        pick(r, Vector("O", "F")), new Timestamp(shipLo + r.nextInt(shipDays) * Day))
    }, "lineitem")
    val evLo = ms("2024-01-01T00:00:00Z") * 1000L
    val evSpanUs = 30L * Day * 1000L
    save(gen(spark, z.events) { id =>
      val r = rng(seed, 6, id)
      val ts = new Timestamp(0L)
      val us = evLo + r.nextLong(evSpanUs)
      ts.setTime(us / 1000L); ts.setNanos(((us % 1000000L) * 1000L).toInt)
      // ~1% zero-valued rows: invalid rate ticks the operators must skip
      val value = if (r.nextInt(100) == 0) 0.0
        else math.min(560.21, math.round(-math.log(1 - r.nextDouble()) * 9000.0) / 100.0)
      Event(id, ts, r.nextLong(z.users), pick(r, EventTypes), value,
        s"""{"k": ${r.nextInt(100)}}""")
    }, "events")
  }

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** `docs` documents, `dupPct`% of them planted near-duplicates (a
    * copy of an earlier document with one to three words replaced),
    * and `vecs` 64-dim embeddings around ten labelled centres.
    */
  def writeCorpus(spark: SparkSession, dir: String, docs: Long, vecs: Long,
      dupPct: Int, seed: Long): Unit = {
    import spark.implicits._
    def base(id: Long): Array[String] = {
      val r = rng(seed, 7, id)
      words(r, 8 + r.nextInt(92))
    }
    gen(spark, docs) { id =>
      val r = rng(seed, 8, id)
      val ws =
        if (id > 0 && r.nextInt(100) < dupPct) {
          val w = base(r.nextLong(id))
          (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = pick(r, Vocab))
          w
        } else base(id)
      val text = ws.mkString(" ")
      Doc(id, text, pick(r, Langs), s"src${id % 20}", text.length.toLong)
    }.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    gen(spark, vecs) { id =>
      val r = rng(seed, 9, id)
      val label = r.nextInt(10)
      val c = rng(seed, 10, label)
      val centre = Array.fill(64)(c.nextDouble() * 2 - 1)
      Embedding(id, Array.tabulate(64)(i =>
        (centre(i) * 0.15 + (r.nextDouble() * 2 - 1) * 0.12).toFloat), label)
    }.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
