package perfbench

import org.apache.spark.sql.SparkSession

/** Deterministic 64-bit mixing (the SplitMix64 finalizer): every generated
  * input is a pure function of the run seed and an element's coordinates,
  * so the Spark writers and the in-benchmark model agree without sharing
  * state.
  */
object Mix {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)
  def mix(a: Long, b: Long, c: Long, d: Long): Long = mix(mix(a, b, c) ^ d)
  /** Uniform in [0, n). */
  def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt
}

/** Latency samples and the summaries the benchmark reports. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = synchronized { xs += v }
  def values: Vector[Double] = synchronized { xs.toVector }
  def size: Int = synchronized { xs.size }
  def sum: Double = synchronized { xs.sum }
  def median: Double = Samples.quantile(values, 0.5)
  /** The highest percentile that leaves at least `beyond` samples above it,
    * as (percentile, value); the guide's tail rule.
    */
  def tail(beyond: Int = 10): (Int, Double) = {
    val n = size
    val p = if (n <= beyond) 50 else math.max(50, ((1.0 - beyond.toDouble / n) * 100).floor.toInt)
    (p, Samples.quantile(values, p / 100.0))
  }
}

object Samples {
  /** Linear-interpolated quantile (NaN on no samples). */
  def quantile(v: Seq[Double], q: Double): Double = {
    if (v.isEmpty) return Double.NaN
    val s = v.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(v: Seq[Double]): Double = quantile(v, 0.5)
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]: operation counts for the
  * result line (a wrong answer counts as a failed operation), the metrics,
  * and diagnostics for stderr.
  */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
                         perLayer: Seq[Metric], notes: Seq[String])

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Wall-clock helpers. */
object Clock {
  def now(): Long = System.nanoTime()
  def ms(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e6
  def s(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = now(); val r = body; (r, ms(t0))
  }
}

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, trace: Boolean, workDir: java.io.File,
                     cores: Int) {
  /** The CPU sentinel taken after set-up, before the measured window. */
  var sentinelBefore: Double = Double.NaN
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def dir(name: String): String = {
    val d = new java.io.File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Files {
  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }
  /** Bytes of regular files under `path`. */
  def bytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      var n = 0L
      java.nio.file.Files.walk(root).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) n += java.nio.file.Files.size(p)
      }
      n
    }
  }
}
