package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Feature-store benchmark: one workload, one seed, one closed-loop caller.
  *
  * {{{
  *   perfbench.Main --workload serving|ingest|training --seed N --seconds S
  *                  --trace 0|1 --base DIR --result FILE --spans FILE
  * }}}
  *
  * Prints a detail line (workload-named figures, sample counts, the scratch
  * base) to stdout and writes the result object to `--result`. With
  * `--trace 0` the result carries the end-to-end metrics; with `--trace 1`
  * the per-layer metrics, and the spans go to `--spans`.
  */
object Main {

  /** How many times set-up runs; `setup_s` reports the median. */
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "rows_per_s" -> "1/s",
    "peak_cached_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.warm_s" -> "s",
    "serving.materialize_s" -> "s", "serving.build_df_ms" -> "ms",
    "catalyst.plan_ms" -> "ms", "exec.collect_ms" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count",
    "exec.tasks_per_op" -> "count", "exec.task_run_ms_per_op" -> "ms",
    "exec.task_wait_ms_per_op" -> "ms", "exec.driver_gap_ms_per_op" -> "ms",
    "lake.list_commits_ms" -> "ms", "lake.commits_listed" -> "count",
    "lake.upsert.jobs" -> "count", "lake.upsert.read_mb" -> "MB",
    "lake.upsert.written_mb" -> "MB", "lake.upsert.files_written" -> "count",
    "lake.write_bytes_per_row" -> "B", "lake.delete_ms" -> "ms",
    "lake.compact_ms" -> "ms", "lake.compact.rewritten_mb" -> "MB",
    "lake.read.build_df_ms" -> "ms", "lake.read.files_scanned" -> "count",
    "lake.read.read_mb" -> "MB", "lake.read_changes_ms" -> "ms",
    "lake.stored_mb_end" -> "MB", "lake.space_amp" -> "ratio",
    "lake.data_files_end" -> "count", "view.pit_frame_ms" -> "ms",
    "view.td_build_ms" -> "ms", "view.td_write_ms" -> "ms",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_ms" -> "ms", "exec.input_mb" -> "MB",
    "exec.output_mb" -> "MB", "exec.slot_busy_ratio" -> "ratio",
    "exec.cached_mb" -> "MB", "machine.calib_ms" -> "ms",
    "trace.unaccounted_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio")

  /** The operation kind `op_ms_p50` times, per workload. */
  val PrimaryOp = Map("serving" -> "lookup_single", "ingest" -> "upsert",
    "training" -> "td_build")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val base = a("base")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.SparkSessions.local(cores.toString, s"perfbench-$workload",
      metastoreDir = Some(s"$base/metastore"))
    val startS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val listener = new CountingListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val cache = new CacheListener
    spark.sparkContext.addSparkListener(cache)
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, cache, seed, base, cores)

    val warmS = timedS(warm(ctx))
    val calibStart = calib(ctx)

    val w: Workload = workload match {
      case "serving" => new ServingWorkload(ctx, nOrders = 150000, nCustomers = 15000)
      case "ingest" => new IngestWorkload(ctx, nOrders = 50000)
      case "training" => new TrainingWorkload(ctx, nOrders = 25000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genT0 = System.nanoTime()
    val generated = w.generate()
    val genS = (System.nanoTime() - genT0) / 1e9
    val setupEach = (1 to SetupReps).map(_ => timedS(tracer.span("setup")(w.setup())))
    val setupS = startS + warmS + Stats.median(setupEach)

    val warmupS = timedS(w.warmup())
    w.startMeasuring()
    Layers.reset()
    tracer.markMeasureStart()
    val t0 = System.nanoTime()
    var cycles = 0
    do { w.cycle(); cycles += 1 } while ((System.nanoTime() - t0) / 1e9 < seconds)
    val measuredS = (System.nanoTime() - t0) / 1e9

    // the closing calibration job doubles as the listeners' drain marker
    spark.sparkContext.setJobGroup(CacheListener.Marker, "drain", false)
    val calibEnd = calib(ctx)
    spark.sparkContext.clearJobGroup()
    val drained = waitFor(10000)(cache.drained)
    val peakRssMb = peakRss()

    val e2e = w.endToEnd()
    val metrics: Seq[(String, String, Double)] =
      if (!trace) EndToEnd.map { case (n, u) => (n, u, n match {
        case "setup_s" => setupS
        case "peak_cached_mb" => cache.peakBytes / 1e6
        case other => e2e(other)
      }) }
      else {
        val primary = tracer.ops.filter(o => o.id >= tracer.firstMeasuredOp &&
          o.kind == PrimaryOp(workload))
        val overhead = Stats.median(primary.filter(_.traced).map(_.ms).toSeq) /
          Stats.median(primary.filterNot(_.traced).map(_.ms).toSeq) - 1
        val layers = Layers.compute(tracer, listener, cores, overhead) ++
          w.layerExtras() ++ Map(
            "session.start_s" -> startS, "session.warm_s" -> warmS,
            "machine.calib_ms" -> (calibStart + calibEnd) / 2,
            "exec.cached_mb" -> cache.peakBytes / 1e6)
        PerLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }

    val detail = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "scratch_base" -> base, "cores" -> cores,
      "generated" -> generated, "generate_s" -> genS,
      "setup_s_each" -> setupEach, "session_start_s" -> startS,
      "session_warm_s" -> warmS, "warmup_ops_s" -> warmupS,
      "cycles" -> cycles, "measured_s" -> measuredS,
      "jvm_uptime_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0,
      "calib_ms" -> Seq(calibStart, calibEnd), "peak_rss_mb" -> peakRssMb,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "failures" -> ctx.failures, "listener_drained" -> drained,
      "figures" -> w.detail())
    println(Json(detail))

    if (trace) writeSpans(a("spans"), tracer)
    val result = Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, u, v) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*))
    Files.write(Paths.get(a("result")), Json(result).getBytes(UTF_8))
    spark.stop()
  }

  private def timedS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The session's first job, which loads the classes every workload uses
    * (planner, code generation, a shuffle).
    */
  private def warm(ctx: Ctx): Unit = ctx.tracer.span("session.warm") {
    ctx.spark.range(0, 1000, 1, ctx.cores).selectExpr("id % 10 AS k")
      .groupBy("k").count().collect()
  }

  /** A fixed job whose time tracks the machine, not the engine. */
  private def calib(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    ctx.spark.range(0, 20000000L, 1, ctx.cores).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def waitFor(ms: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  private def peakRss(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def writeSpans(path: String, tracer: Tracer): Unit = {
    val lines = tracer.spans.map { s =>
      Json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "start_ms" -> (s.startNs + tracer.epochOffsetNs) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "parent" -> s.parent, "op" -> s.op))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
