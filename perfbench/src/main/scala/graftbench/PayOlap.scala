package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Payments
import graft.sources.Tables

/** `pay-olap`: a closed loop of short payment-analytics queries over
  * the `operators.Payments` surface, HMAC signing (`q_hmac_sign`) and
  * the join-key skew audit (`q_skew_report`), on the sf0.1 star schema
  * and `events`.
  *
  * The data set is fixed; the seed draws the op order and each op's
  * parameter. A parameterised kind has a grid of six measured values
  * that change its result but not its cost, dealt in a seeded order
  * without repeats until the grid is used up. The warm pass uses a
  * value that the measured sequence never draws. The window runs whole
  * rounds of the 14 kinds.
  */
object PayOlap extends BatchWorkload {
  val name = "pay-olap"
  val referenceFile = "pay-olap.json"
  val timeoutMs = 30000L

  /** An op kind: the tables it reads, its warm-pass parameter, its
    * measured parameter grid, and the call.
    */
  final case class Kind(name: String, tables: Seq[String], warmParam: String,
      grid: Seq[String], call: (SparkSession, String, String) => DataFrame)

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  private val ev = Seq("events")
  /** A parameterless kind, called through the `SparkEntry` registry. */
  private def registry(key: String, tables: Seq[String]) =
    Kind(key, tables, "", Seq(""), (s, d, _) => graft.SparkEntry.queries(key)(s, d))

  val kinds: Seq[Kind] = Seq(
    // cutoffs one month apart keep the kind's cost (rows past the
    // filter) alike whichever the seed deals
    Kind("pricing_summary", Seq("lineitem"), "1999-01-01",
      Seq("1998-07-01", "1998-08-01", "1998-09-02", "1998-10-01", "1998-11-01", "1998-12-01"),
      (s, d, p) => Payments.pricingSummary(t(s, d, "lineitem"), p)),
    Kind("price_adjust", Seq("orders"), "0.65",
      Seq("0.70", "0.75", "0.80", "0.85", "0.90", "0.95"),
      (s, d, p) => Payments.priceAdjust(t(s, d, "orders"), p)),
    Kind("rebill_due", Seq("orders"), "120", Seq("7", "14", "30", "45", "60", "90"),
      (s, d, p) => Payments.rebillDue(t(s, d, "orders"), p.toInt)),
    Kind("free_trial", Seq("orders"), "75000",
      Seq("1000", "2500", "5000", "10000", "25000", "50000"),
      (s, d, p) => Payments.freeTrialSplit(t(s, d, "orders"), p)),
    Kind("expiry_outcomes", ev, "7200", Seq("60", "300", "600", "900", "1800", "3600"),
      (s, d, p) => Payments.expiryOutcomes(t(s, d, "events"), p.toLong)),
    Kind("session_stats", ev, "28800", Seq("300", "900", "1800", "3600", "7200", "14400"),
      (s, d, p) => Payments.sessionStats(t(s, d, "events"), p.toLong)),
    // the bucket width changes only the plan's cost, never the result,
    // so the measured value is fixed (the operator's default)
    Kind("xrate_asof", ev, "604800", Seq("86400"),
      (s, d, p) => Payments.xrateAsof(t(s, d, "events"), p.toLong)),
    Kind("hmac_sign", ev, "warm_secret",
      Seq("test_secret", "k_7f3a", "k_19c2", "k_e04d", "k_5b88", "k_a6f1"),
      (s, d, p) => Payments.hmacSign(t(s, d, "events"), p)),
    registry("q_payment_latest_status", ev),
    registry("q_payment_funnel", ev),
    registry("q_status_transitions", ev),
    registry("q_value_quantiles", ev),
    registry("q_revenue_rollup", Seq("orders", "customer", "nation", "region")),
    registry("q_skew_report", ev))

  def opKinds: Seq[String] = kinds.map(_.name)
  def roundOps: Int = kinds.size
  // a steady round takes about 9 s on a 4-core host, so a 16 s run
  // measures three rounds (42 queries, about 27 s): two rounds were
  // too few samples for a steady p50 and p90
  def roundSeconds: Double = 6.0

  private def spec(ctx: Ctx, k: Kind, p: String): OpSpec =
    OpSpec(k.name, p, k.tables.map(ctx.tableRows).sum,
      () => k.call(ctx.spark, ctx.starDir, p))

  def warmLanes(ctx: Ctx): Seq[Seq[OpSpec]] = kinds.map(k => Seq(spec(ctx, k, k.warmParam)))

  def sequence(ctx: Ctx): Iterator[OpSpec] = {
    val rnd = new scala.util.Random(ctx.seed)
    val decks = kinds.map(k => k.name -> Iterator.continually(rnd.shuffle(k.grid)).flatten).toMap
    Iterator.continually(rnd.shuffle(kinds)).flatten.map(k => spec(ctx, k, decks(k.name).next()))
  }

  /** Every op key the reference must cover: warm values and grids. */
  def allOps(ctx: Ctx): Seq[OpSpec] =
    kinds.flatMap(k => (k.warmParam +: k.grid).distinct.map(p => spec(ctx, k, p)))
}
