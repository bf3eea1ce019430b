package graftbench

/** Order statistics over latency samples. */
object Stats {
  /** Harrell–Davis quantile estimate: a Beta-weighted average of all
    * order statistics. On the few dozen samples of one run it is much
    * steadier than picking one or two order statistics, and on large
    * samples it agrees with the usual estimate. NaN when empty.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted.toArray
      val n = s.length
      val a = (n + 1) * q
      val b = (n + 1) * (1 - q)
      var prev = 0.0
      var acc = 0.0
      for (i <- 1 to n) {
        val cur = betaCdf(i.toDouble / n, a, b)
        acc += (cur - prev) * s(i - 1)
        prev = cur
      }
      acc
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Regularized incomplete beta function I_x(a, b). */
  private def betaCdf(x: Double, a: Double, b: Double): Double =
    if (x <= 0) 0.0
    else if (x >= 1) 1.0
    else {
      val front = math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b) +
        a * math.log(x) + b * math.log(1 - x))
      if (x < (a + 1) / (a + b + 2)) front * betaCf(x, a, b) / a
      else 1.0 - front * betaCf(1 - x, b, a) / b
    }

  /** Continued fraction for the incomplete beta function (modified Lentz). */
  private def betaCf(x: Double, a: Double, b: Double): Double = {
    val tiny = 1e-300
    var c = 1.0
    var d = 1.0 - (a + b) * x / (a + 1)
    if (math.abs(d) < tiny) d = tiny
    d = 1.0 / d
    var h = d
    var m = 1
    var done = false
    while (m <= 300 && !done) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((a + m2 - 1) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d; h *= d * c
      aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      val del = d * c
      h *= del
      done = math.abs(del - 1.0) < 1e-12
      m += 1
    }
    h
  }

  /** Lanczos approximation of ln Γ(x), x > 0. */
  private def lnGamma(x: Double): Double = {
    val g = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
      -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    var y = x
    val tmp = x + 5.5 - (x + 0.5) * math.log(x + 5.5)
    var ser = 1.000000000190015
    g.foreach { c => y += 1; ser += c / y }
    -tmp + math.log(2.5066282746310005 * ser / x)
  }
}
