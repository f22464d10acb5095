package perfbench

/** Order statistics and JSON number formatting. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Zero-IO box-speed probe: a fixed integer-mixing loop, the median of
    * three timings in ms. Its cost depends only on how much CPU the
    * machine gives this process, never on the engine.
    */
  def boxProbeMs(): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  })
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = graft.util.Json.str(s)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def nums(ds: Seq[Double]): String = arr(ds.map(num))
}
