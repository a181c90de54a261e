package perfbench

import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the q-quantile, q in (0, 1): a weighted mean
    * of all order statistics, with the weights a Beta((n+1)q, (n+1)(1-q))
    * law puts on each rank. Where neighbouring samples lie far apart (the
    * commit intervals of different tables), the sample quantile jumps from
    * one to the next as load shifts a few of them; this estimate moves
    * smoothly.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q < 1, s"quantile $q of ${xs.size} samples")
    val s = xs.sorted
    val n = s.size
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    val cdf = (0 to n).map { i =>
      if (i == 0) 0.0 else if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b)
    }
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }

  /** The highest percentile that has at least ten samples beyond it, as
    * (value, percentile), estimated by [[hdQuantile]]; with ten samples or
    * fewer, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 10) (xs.max, 100.0)
    else {
      val q = (xs.size - 10).toDouble / xs.size // exactly ten samples lie above rank n - 10
      (hdQuantile(xs, q), 100.0 * q)
    }

  /** Order-independent digest of rendered rows: row count and a hash of
    * the sorted rows.
    */
  def digestRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${rows.size}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(x => java.nio.file.Files.delete(x))
  }
}
