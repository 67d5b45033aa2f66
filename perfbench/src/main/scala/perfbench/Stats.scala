package perfbench

/** Order statistics and interval arithmetic used by the harness. */
object Stats {

  /** Linear-interpolation quantile (the "type 7" estimator), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `tail` samples
    * above it in a sample of `n`, or None when even the median lacks them. */
  def supportedPercentile(n: Int, tail: Int = 10): Option[Int] = {
    if (n <= 0) return None
    val p = math.min(99, math.floor(100.0 * (n - tail) / n + 1e-9).toInt)
    if (p >= 50) Some(p) else None
  }

  /** Length of the union of half-open intervals `[a, b)` clipped to
    * `[lo, hi)`. Overlapping and nested intervals are counted once. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time in `[lo, hi)` during which none of `intervals` is open. */
  def idleLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - coveredLength(intervals, lo, hi)
}

/** Counts attempted and failed operations. An operation fails when its body
  * throws or its output check reports a mismatch; neither stops the run. */
final class Tally {
  private var attempted0 = 0
  private var failed0 = 0
  private val messages = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Int = attempted0
  def failed: Int = failed0
  def failures: Seq[String] = messages.toSeq

  /** Runs `body`, then `check` on its value (None = correct). Returns the
    * value when the body completed, even if the check failed. */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted0 += 1
    val result =
      try Right(body)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    result match {
      case Left(e) =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      case Right(v) =>
        val verdict =
          try check(v)
          catch { case scala.util.control.NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}") }
        verdict.foreach(m => fail(s"$name: $m"))
        Some(v)
    }
  }

  private def fail(msg: String): Unit = {
    failed0 += 1
    if (messages.size < 50) messages += msg
  }
}

/** A 64-bit hash of one output row, over a canonical text form of its
  * values. Summing it over the rows gives a content hash that does not
  * depend on row order. Doubles are hashed by their exact decimal form,
  * timestamps by their instant, so the hash depends on neither the JVM's
  * time zone nor its locale. */
object RowHash {
  def of(row: org.apache.spark.sql.Row): Long = {
    val bytes = canonical(row).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("SHA-256").digest(bytes)).getLong
  }

  def canonical(v: Any): String = v match {
    case null => "null"
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f) + "f"
    case t: java.sql.Timestamp => s"ts:${t.toInstant}"
    case i: java.time.Instant => s"ts:$i"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x'", "", "'")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }
}
