package perfbench

import graft.catalog.FeatureStore
import graft.ir.Query
import graft.model.FeatureGroup
import graft.ops.Transformations
import graft.view.{FeatureView, TrainingDataset}

/** Training data: the lineitem spine (`l_orderkey`, `l_shipdate`) joined
  * point-in-time to a lake-backed, event-time `orders` history. Each cycle
  * runs `FeatureView.pitTrainingFrame`, `TrainingDataset.build` with a
  * seeded train/test split, train-fitted scaler and encoder transforms and
  * per-split statistics, `TrainingDataset.write` to parquet, then reads the
  * dataset back. Execution-bound: shuffle, window, aggregate, write.
  */
final class TrainingWorkload(ctx: Ctx, nOrders: Long) extends Workload {
  import ctx.{spark, tracer}

  private val ordersPath = ctx.path("data/orders_history.parquet")
  private val spinePath = ctx.path("data/lineitem.parquet")
  private val weights = Map("train" -> 0.8, "test" -> 0.2)
  private val prefix = "ord_"

  private var spineRows = 0L
  private var view: FeatureView = _
  private var setups = 0
  private var builds = 0

  private val build = new Samples
  private val readBack = new Samples
  private val createS = new Samples
  private val leftCachedMb = new Samples

  def generate(): Map[String, Any] = {
    val orders = DataGen.orders(spark, nOrders, nOrders / 10, ctx.seed, ctx.cores)
    DataGen.orderHistory(orders, ctx.seed).write.parquet(ordersPath)
    DataGen.lineitem(orders, ctx.seed).write.parquet(spinePath)
    spineRows = spark.read.parquet(spinePath).count()
    Map("orders" -> nOrders,
      "order_versions" -> spark.read.parquet(ordersPath).count(),
      "spine_rows" -> spineRows)
  }

  def setup(): Unit = {
    setups += 1
    val warehouse = ctx.path(s"warehouse_$setups")
    val fs = new FeatureStore(spark, warehouseDir = warehouse)
    val t0 = System.nanoTime()
    val orders = tracer.span("lake.create") {
      fs.createFeatureGroup("orders", spark.read.parquet(ordersPath),
        primaryKey = Seq("o_orderkey"), eventTime = Some("o_orderdate"))
    }
    createS += (System.nanoTime() - t0) / 1e6
    val spine = FeatureGroup.fromParquet(spark, "lineitem", spinePath,
      primaryKey = Seq("l_orderkey", "l_linenumber"),
      eventTime = Some("l_shipdate"))
    view = FeatureView("lineitem_orders", 1,
      Query.selectAll(spine).join(
        Query.select(orders, Seq("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
        leftOn = Seq("l_orderkey"), rightOn = Seq("o_orderkey"),
        prefix = Some(prefix)),
      labels = Seq("l_extendedprice"),
      transformations = Seq(
        Transformations.builtin("price_scaled", "min_max_scaler",
          s"${prefix}o_totalprice"),
        Transformations.builtin("priority_code", "label_encoder",
          s"${prefix}o_orderpriority")))
    if (setups > 1) {
      val p = new org.apache.hadoop.fs.Path(ctx.path(s"warehouse_${setups - 1}"))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** One cycle: build and write one training dataset, then read it back. */
  def cycle(): Unit = {
    builds += 1
    val out = ctx.path(s"td/$builds")
    val spine = spark.read.parquet(spinePath)
    val (res, ms) = ctx.op("td_build") {
      val frame = tracer.span("view.pit_frame")(view.pitTrainingFrame(spark, spine))
      val r = tracer.span("view.td_build") {
        TrainingDataset.build(spark, view, frame, randomWeights = weights,
          seed = ctx.seed + builds, statsColumns = Seq("l_quantity"))
      }
      tracer.span("view.td_write")(TrainingDataset.write(r, out))
      r
    } { r =>
      val rows = splitRows(r).values.sum
      if (rows == spineRows) None
      else Some(s"splits hold $rows rows, spine has $spineRows")
    }
    build += ms
    res.foreach { r =>
      val written = splitRows(r)
      val (_, rms) = ctx.op("td_read") {
        written.keys.toSeq.sorted.map { name =>
          val df = tracer.span("view.td_read_df") {
            TrainingDataset.read(spark, s"$out/$name").groupBy().count()
          }
          tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
          name -> tracer.span("exec.collect")(df.collect().head.getLong(0))
        }.toMap
      } { got =>
        if (got == written) None
        else Some(s"read back $got, wrote $written")
      }
      readBack += rms
      r.splits.values.foreach(_.unpersist(blocking = true))
    }
    // With transformations, TrainingDataset.build returns the transformed
    // frames, not the cached splits under them, so the unpersist above
    // cannot release those: record what stays cached, then clear it so
    // each build starts from an empty cache.
    leftCachedMb += ctx.cache.cachedBytes / 1e6
    spark.catalog.clearCache()
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Rows per split, from the per-split statistics of `l_quantity`. */
  private def splitRows(r: TrainingDataset.Result): Map[String, Long] =
    r.statistics.map { case (name, profiles) =>
      name -> profiles.find(_.feature == "l_quantity")
        .map(p => p.count + p.nullCount).getOrElse(-1L)
    }

  /** The first build runs cold (about three times a warm one); two builds
    * take most of the JIT slope out.
    */
  def warmup(): Unit = { cycle(); cycle() }

  def startMeasuring(): Unit = {
    build.clear(); readBack.clear(); leftCachedMb.clear()
  }

  def endToEnd(): Map[String, Double] = Map(
    "op_ms_p50" -> build.p50,
    "rows_per_s" -> spineRows * build.n / (build.sum / 1000))

  def layerExtras(): Map[String, Double] = Map.empty

  def detail(): Map[String, Any] = Map(
    "td_build_s_p50" -> build.p50 / 1000,
    "td_rows_per_s" -> spineRows * build.n / (build.sum / 1000),
    "td_read_ms_p50" -> readBack.p50,
    "ops" -> Map("td_build" -> build.summary, "td_read" -> readBack.summary),
    "lake_create_s_each" -> createS.ms.map(_ / 1000),
    "cached_mb_left_after_release_each" -> leftCachedMb.ms)
}
