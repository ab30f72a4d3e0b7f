package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What every workload shares: the session, the tracer, the seeded random
  * source, the scratch base all lake roots and outputs live under, and the
  * tally of attempted and failed operations.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val cache: CacheListener, val seed: Long, val base: String,
                val cores: Int) {
  val rnd = new scala.util.Random(seed)
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Run one operation: time it, count it, and count it failed when it
    * throws or when `check` rejects its result. Returns the result (None on
    * an exception) and the wall milliseconds.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String])
      : (Option[T], Double) = {
    attempted += 1
    try {
      val (r, ms) = tracer.op(kind)(body)
      check(r).foreach(fail(kind, _))
      (Some(r), ms)
    } catch {
      case scala.util.control.NonFatal(e) =>
        fail(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        (None, Double.NaN)
    }
  }

  /** A correctness check that is not part of a timed operation. */
  def check(what: String)(problem: => Option[String]): Unit = {
    attempted += 1
    val p = try problem catch {
      case scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    p.foreach(fail(what, _))
  }

  private def fail(what: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: ${msg.take(300)}"
  }

  def path(rel: String): String = s"$base/$rel"

  /** Wait (at most 10 s) until no RDD block is cached: unpersisting is
    * asynchronous, and the next set-up must not overlap the last one's
    * cache in the peak.
    */
  def awaitUncached(): Unit = {
    val end = System.currentTimeMillis() + 10000
    while (cache.cachedBytes > 0 && System.currentTimeMillis() < end)
      Thread.sleep(10)
  }
}

/** One workload of the benchmark. [[Main]] calls `generate` once (input
  * data, not timed), `setup` several times (timed; each call replaces the
  * state of the previous one), `warmup` once, then `cycle` until the run's
  * seconds are spent.
  */
trait Workload {
  def generate(): Map[String, Any]
  def setup(): Unit
  def warmup(): Unit
  def cycle(): Unit
  /** `op_ms_p50` and `rows_per_s` of the measured cycles. */
  def endToEnd(): Map[String, Double]
  /** Per-layer metrics only this workload can measure (lake file counts,
    * materialize time); the rest derive from spans and listener counts.
    */
  def layerExtras(): Map[String, Double]
  /** Figures for the detail line under their feature-store names, with
    * tail percentiles and sample counts.
    */
  def detail(): Map[String, Any]
  /** Reset measurements after warm-up, so only timed cycles count. */
  def startMeasuring(): Unit
}

/** Latency samples of one operation kind. */
final class Samples {
  val ms = ArrayBuffer.empty[Double]
  def +=(v: Double): Unit = if (!v.isNaN) ms += v
  def clear(): Unit = ms.clear()
  def n: Int = ms.size
  def sum: Double = ms.sum
  def p50: Double = Stats.median(ms.toSeq)

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, with the percentile and the sample count.
    */
  def tail: Map[String, Any] = {
    val levels = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    levels.find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => Map("percentile" -> p,
        "ms" -> Stats.nearestRank(ms.toSeq, p), "samples" -> n)
      case None => Map("percentile" -> "none: fewer than 11 samples",
        "samples" -> n)
    }
  }

  def summary: Map[String, Any] =
    Map("samples" -> n, "p50_ms" -> (if (n > 0) p50 else Double.NaN),
      "mean_ms" -> (if (n > 0) sum / n else Double.NaN), "tail" -> tail,
      "each_ms" -> ms.map(v => math.round(v * 10) / 10.0))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
}

/** Minimal JSON writer for the result and detail lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
