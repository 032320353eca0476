package perfbench

import java.nio.file.{Files, Path}

/** Small helpers shared by every workload: quantiles, a JSON writer,
  * process counters and file-system utilities. */
object Util {

  /** Linear-interpolated quantile, the same definition as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares slope of ys against xs. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    if (xs.size < 2) return 0.0
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else num / den
  }

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowEpoch: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Lets the JIT compile queue drain and collects the warm-up's garbage,
    * so the first timed op does not pay for the warm-up. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(1000)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ------------------------------------------------------------------ JSON

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Serialises nested Maps, Seqs, strings, booleans and numbers. */
  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case f: Float => toJson(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonString(k.toString) + ": " + toJson(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ", ", "]")
    case o: Option[_] => o.map(toJson).getOrElse("null")
    case other => jsonString(other.toString)
  }
}

/** One metric value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back to [[Main]]. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Metric)],
                         problems: Seq[String])
