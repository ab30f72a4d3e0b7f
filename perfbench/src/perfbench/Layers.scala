package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable.ArrayBuffer

/** Derives the per-layer metrics of a traced run from its spans, the
  * listener's job, stage and task records, and probes the workloads note
  * along the way. An "op" is one lookup, commit, read or TD build.
  */
object Layers {

  private val scans = ArrayBuffer.empty[Long]
  private val listedCounts = ArrayBuffer.empty[Int]

  /** Files the executed plan of a traced read scanned. */
  def noteScan(tracer: Tracer, df: DataFrame): Unit =
    if (tracer.tracingNow) scans += filesScanned(df)

  def noteCommitsListed(n: Int): Unit = listedCounts += n

  /** Forget what warm-up noted; only measured cycles count. */
  def reset(): Unit = { scans.clear(); listedCounts.clear() }

  private def filesScanned(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .filter(_.getClass.getSimpleName.startsWith("FileSourceScan"))
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(tracer: Tracer, l: CountingListener, cores: Int,
              overheadRatio: Double): Map[String, Double] = l.synchronized {
    val traced = tracer.ops.filter(o => o.traced && o.id >= tracer.firstMeasuredOp).toSeq
    // set-up spans (outside any op) and spans of measured ops
    val spans = tracer.spans.filter(s => s.op < 0 || s.op >= tracer.firstMeasuredOp)
    val byOp = spans.groupBy(_.op)
    val children = tracer.spans.groupBy(_.parent)

    /** Self time of a span: its duration minus what its children cover. */
    def selfNs(s: Span): Long = s.durNs - unionLength(
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq,
      s.startNs, s.endNs)

    def spanMs(name: String): Double =
      mean(spans.filter(_.name == name).map(selfNs(_) / 1e6))
    def wallMs(name: String): Double =
      mean(spans.filter(_.name == name).map(_.durNs / 1e6))

    val jobsOf = l.jobs.values.groupBy(_.op)
    def tasksOf(op: Int): Seq[l.Task] = {
      val stages = jobsOf.getOrElse(op, Nil).flatMap(_.stageIds).toSet
      l.tasks.filter(t => stages(t.stageId)).toSeq
    }
    final case class OpCounts(jobs: Int, stages: Int, tasks: Int, runMs: Double,
                              waitMs: Double, gapMs: Double, gcMs: Double,
                              inMb: Double, outMb: Double, shReadMb: Double,
                              shWriteMb: Double, spillMb: Double, wallMs: Double,
                              outRows: Long)
    val counts: Map[Int, (OpRecord, OpCounts)] = traced.map { o =>
      val js = jobsOf.getOrElse(o.id, Nil).toSeq
      val ts = tasksOf(o.id)
      val lo = (o.startNs + tracer.epochOffsetNs) / 1000000L
      val hi = (o.endNs + tracer.epochOffsetNs) / 1000000L
      val jobMs = unionLength(js.map(j => (j.submitMs, if (j.endMs < 0) hi else j.endMs)), lo, hi)
      val wait = ts.map(t => math.max(0L, t.launchMs -
        l.stageSubmitMs.getOrElse(t.stageId, t.launchMs))).sum
      o.id -> (o -> OpCounts(js.size, ts.map(_.stageId).distinct.size, ts.size,
        ts.map(_.runMs).sum.toDouble, wait.toDouble,
        math.max(0.0, o.ms - jobMs), ts.map(_.gcMs).sum.toDouble,
        ts.map(_.inputBytes).sum / 1e6, ts.map(_.outputBytes).sum / 1e6,
        ts.map(_.shuffleReadBytes).sum / 1e6, ts.map(_.shuffleWriteBytes).sum / 1e6,
        ts.map(_.spillBytes).sum / 1e6, o.ms, ts.map(_.outputRecords).sum))
    }.toMap
    def perOp(f: OpCounts => Double): Double = mean(counts.values.map(c => f(c._2)))
    def ofKind(kinds: Set[String]): Seq[OpCounts] =
      counts.values.filter(c => kinds(c._1.kind)).map(_._2).toSeq
    def perKind(kinds: Set[String], f: OpCounts => Double): Double =
      mean(ofKind(kinds).map(f))
    val upserts = Set("upsert")
    val reads = Set("read_latest", "read_asof", "read_changes")

    // per op: the part of its wall time its direct child spans leave uncovered
    val unaccounted = traced.flatMap { o =>
      byOp.getOrElse(o.id, Nil).find(s => s.name == s"op.${o.kind}" && s.parent == -1)
        .map { root =>
          val kids = children.getOrElse(root.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
          1.0 - unionLength(kids, root.startNs, root.endNs).toDouble / root.durNs
        }
    }
    val upsertRows = ofKind(upserts).map(_.outRows).sum
    val busy = counts.values.map(_._2.runMs).sum /
      math.max(1e-9, counts.values.map(_._2.wallMs).sum * cores)

    Map(
      "serving.build_df_ms" -> spanMs("serving.build_df"),
      "catalyst.plan_ms" -> spanMs("catalyst.plan"),
      "exec.collect_ms" -> spanMs("exec.collect"),
      "exec.jobs_per_op" -> perOp(_.jobs),
      "exec.stages_per_op" -> perOp(_.stages),
      "exec.tasks_per_op" -> perOp(_.tasks),
      "exec.task_run_ms_per_op" -> perOp(_.runMs),
      "exec.task_wait_ms_per_op" -> perOp(_.waitMs),
      "exec.driver_gap_ms_per_op" -> perOp(_.gapMs),
      "lake.list_commits_ms" -> spanMs("lake.list_commits"),
      "lake.commits_listed" -> mean(listedCounts.map(_.toDouble)),
      "lake.upsert.jobs" -> perKind(upserts, _.jobs),
      "lake.upsert.read_mb" -> perKind(upserts, _.inMb),
      "lake.upsert.written_mb" -> perKind(upserts, _.outMb),
      "lake.write_bytes_per_row" ->
        (if (upsertRows == 0) 0.0 else ofKind(upserts).map(_.outMb).sum * 1e6 / upsertRows),
      "lake.delete_ms" -> spanMs("lake.delete"),
      "lake.compact_ms" -> spanMs("lake.compact"),
      "lake.compact.rewritten_mb" -> perKind(Set("compact"), _.outMb),
      "lake.read.build_df_ms" -> spanMs("lake.read.build_df"),
      "lake.read.files_scanned" -> mean(scans.map(_.toDouble)),
      "lake.read.read_mb" -> perKind(reads, _.inMb),
      "lake.read_changes_ms" -> wallMs("op.read_changes"),
      "view.pit_frame_ms" -> spanMs("view.pit_frame"),
      "view.td_build_ms" -> spanMs("view.td_build"),
      "view.td_write_ms" -> spanMs("view.td_write"),
      "exec.shuffle_write_mb" -> perOp(_.shWriteMb),
      "exec.shuffle_read_mb" -> perOp(_.shReadMb),
      "exec.spill_mb" -> perOp(_.spillMb),
      "exec.gc_ms" -> perOp(_.gcMs),
      "exec.input_mb" -> perOp(_.inMb),
      "exec.output_mb" -> perOp(_.outMb),
      "exec.slot_busy_ratio" -> busy,
      "trace.unaccounted_ratio" -> (if (unaccounted.isEmpty) 0.0 else unaccounted.max),
      "trace.overhead_ratio" -> overheadRatio)
  }
}
