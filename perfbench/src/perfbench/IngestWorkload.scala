package perfbench

import graft.catalog.FeatureStore
import graft.ir.Dsl._
import graft.ir.Query
import graft.model.FeatureGroup
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable.ArrayBuffer

/** Lake ingest: a lake-backed `orders` group (primary key `o_orderkey`,
  * event time `o_orderdate`) built in set-up. One caller runs a seeded
  * sequence of `FeatureStore.insert` upserts (1% of the rows: 80% updates,
  * 20% new keys), deletes, as-of and incremental reads, and a
  * `Lake.compact` at the end of every cycle, reading back a key it just
  * wrote after every commit. Everything read is checked against the
  * benchmark's own model of the commits applied.
  */
final class IngestWorkload(ctx: Ctx, nOrders: Long) extends Workload {
  import ctx.{spark, tracer}

  type Rec = Seq[Any]
  private val ordersPath = ctx.path("data/orders.parquet")
  private val upsertRows = math.max(10, (nOrders / 100).toInt)
  private val deleteRows = math.max(2, (nOrders / 1000).toInt)

  private var fs: FeatureStore = _
  private var fg: FeatureGroup = _
  private var root: String = _
  private var setups = 0

  // the model: live records by key, and every commit since the last
  // compaction with the state after it and what it changed
  private var initial: Map[Long, Rec] = Map.empty
  private var state: Map[Long, Rec] = Map.empty
  private final case class Commit(t: Long, after: Map[Long, Rec],
                                  changed: Map[Long, Option[Rec]])
  private val commits = ArrayBuffer.empty[Commit]
  private val live = ArrayBuffer.empty[Long]
  private val livePos = scala.collection.mutable.HashMap.empty[Long, Int]
  private var nextKey = nOrders + 1

  private val upsert = new Samples
  private val delete = new Samples
  private val compact = new Samples
  private val readLatest = new Samples
  private val readAsOf = new Samples
  private val readChanges = new Samples
  private var rowsCommitted = 0L
  private val filesWritten = ArrayBuffer.empty[Double]
  private val createS = new Samples

  def generate(): Map[String, Any] = {
    DataGen.orders(spark, nOrders, nOrders / 10, ctx.seed, ctx.cores)
      .write.parquet(ordersPath)
    initial = spark.read.parquet(ordersPath).collect()
      .map(r => r.getLong(0) -> (r.toSeq: Rec)).toMap
    Map("orders_rows" -> nOrders, "upsert_rows" -> upsertRows,
      "delete_rows" -> deleteRows)
  }

  def setup(): Unit = {
    setups += 1
    val warehouse = ctx.path(s"warehouse_$setups")
    fs = new FeatureStore(spark, warehouseDir = warehouse)
    val t0 = System.nanoTime()
    fg = tracer.span("lake.create") {
      fs.createFeatureGroup("orders", spark.read.parquet(ordersPath),
        primaryKey = Seq("o_orderkey"), eventTime = Some("o_orderdate"))
    }
    createS += (System.nanoTime() - t0) / 1e6
    root = s"$warehouse/orders_1"
    // the previous set-up's table is replaced, not kept
    if (setups > 1) deleteTree(ctx.path(s"warehouse_${setups - 1}"))
    state = initial
    commits.clear()
    commits += Commit(Lake.listCommits(spark, root).last, state, Map.empty)
    live.clear(); livePos.clear()
    state.keys.toSeq.sorted.foreach(addLive)
    nextKey = nOrders + 1
  }

  private def deleteTree(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  private def addLive(k: Long): Unit = { livePos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }

  private def sampleLive(n: Int): Seq[Long] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += live(ctx.rnd.nextInt(live.size))
    picked.toSeq
  }

  private def cents(max: Int): Double = ctx.rnd.nextInt(max) / 100.0
  private def pick[T](xs: Seq[T]): T = xs(ctx.rnd.nextInt(xs.size))

  private def updated(r: Rec): Rec =
    Seq(r(0), r(1), pick(DataGen.Statuses), cents(50000000) + 900.0, r(4),
      pick(DataGen.Priorities), r(6), r(7))

  private def fresh(k: Long): Rec =
    Seq(k, 1L + ctx.rnd.nextInt((nOrders / 10).toInt), pick(DataGen.Statuses),
      cents(50000000) + 900.0,
      java.sql.Date.valueOf(DataGen.Epoch.plusDays(ctx.rnd.nextInt(DataGen.OrderDays))),
      pick(DataGen.Priorities), f"Clerk#${1 + ctx.rnd.nextInt(1000)}%09d", 0)

  private def frame(recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(recs.map(Row.fromSeq): _*),
      DataGen.OrderSchema)

  private def dataFiles(): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$root/data")
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  private def applyCommit(t: Long, changed: Map[Long, Option[Rec]]): Unit = {
    changed.foreach {
      case (k, Some(r)) =>
        if (!state.contains(k)) addLive(k)
        state += k -> r
      case (k, None) =>
        removeLive(k)
        state -= k
    }
    commits += Commit(t, state, changed)
  }

  private def rowsByKey(rows: Array[Row]): Map[Long, Rec] =
    rows.map(r => r.getLong(0) -> (r.toSeq: Rec)).toMap

  private def sameState(got: Array[Row], want: Map[Long, Rec]): Option[String] = {
    val g = rowsByKey(got)
    if (got.length != g.size) Some(s"${got.length - g.size} duplicate keys")
    else if (g.size != want.size) Some(s"${g.size} rows, model has ${want.size}")
    else want.collectFirst { case (k, w) if !g.get(k).contains(w) =>
      s"key $k: got ${g.get(k)}, want $w"
    }
  }

  private def doUpsert(): Seq[Long] = {
    val nNew = upsertRows / 5
    val upd = sampleLive(upsertRows - nNew).map(k => k -> updated(state(k)))
    val add = (0 until nNew).map { i => val k = nextKey + i; k -> fresh(k) }
    nextKey += nNew
    val recs = upd ++ add
    val df = frame(recs.map(_._2))
    val before = if (tracer.enabled) dataFiles() else 0L
    val (meta, ms) = ctx.op("upsert") {
      tracer.span("lake.upsert")(fs.insert(fg, df))
    } { m =>
      if (m.rowsInserted == nNew && m.rowsUpdated == upd.size) None
      else Some(s"commit counted ${m.rowsInserted} inserted / " +
        s"${m.rowsUpdated} updated, expected $nNew / ${upd.size}")
    }
    if (tracer.enabled) filesWritten += (dataFiles() - before).toDouble
    upsert += ms
    rowsCommitted += recs.size
    meta.foreach(m => applyCommit(m.commitTime,
      recs.map { case (k, r) => k -> Some(r) }.toMap))
    recs.map(_._1)
  }

  private def doDelete(): Seq[Long] = {
    val keys = sampleLive(deleteRows)
    val df = frame(keys.map(state)).select("o_orderkey", "o_orderdate")
    val (meta, ms) = ctx.op("delete") {
      tracer.span("lake.delete")(fs.delete(fg, df))
    } { m =>
      if (m.rowsDeleted == keys.size) None
      else Some(s"delete counted ${m.rowsDeleted}, expected ${keys.size}")
    }
    delete += ms
    rowsCommitted += keys.size
    meta.foreach(m => applyCommit(m.commitTime, keys.map(_ -> None).toMap))
    keys
  }

  /** Point read of one key through the feature store's query path. */
  private def readKey(k: Long): Unit = {
    val (_, ms) = ctx.op("read_latest") {
      val df = tracer.span("lake.read.build_df") {
        fs.read(Query.selectAll(fg).where("o_orderkey" === k))
      }
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("exec.collect")(df.collect())
      Layers.noteScan(tracer, df)
      rows
    } { rows =>
      val want = state.get(k).toSeq
      if (rows.map(_.toSeq: Rec).toSeq == want) None
      else Some(s"read of key $k: got ${rows.toSeq}, want $want")
    }
    readLatest += ms
  }

  /** As-of read two commits back, picked from the listed commit timeline,
    * then the incremental read of what changed since.
    */
  private def readHistory(): Unit = {
    val (res, ms) = ctx.op("read_asof") {
      val listed = tracer.span("lake.list_commits")(Lake.listCommits(spark, root))
      val t = listed(listed.size - 3)
      val df = tracer.span("lake.read.build_df")(fs.read(Query.selectAll(fg).asOf(t)))
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("exec.collect")(df.collect())
      Layers.noteScan(tracer, df)
      Layers.noteCommitsListed(listed.size)
      (listed, t, rows)
    } { case (listed, t, rows) =>
      if (listed != commits.map(_.t).toSeq)
        Some(s"listed commits $listed, model has ${commits.map(_.t)}")
      else sameState(rows, commits.find(_.t == t).get.after)
    }
    readAsOf += ms
    res.foreach { case (_, t0, _) =>
      val t1 = commits.last.t
      val (_, cms) = ctx.op("read_changes") {
        val df = tracer.span("lake.read.build_df")(
          Lake.readChanges(spark, root, fg, t0, t1))
        tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
        val rows = tracer.span("exec.collect")(df.collect())
        Layers.noteScan(tracer, df)
        rows
      } { rows =>
        val changed = commits.filter(c => c.t > t0 && c.t <= t1)
          .foldLeft(Map.empty[Long, Option[Rec]])(_ ++ _.changed)
        sameState(rows, changed.collect { case (k, Some(r)) => k -> r })
      }
      readChanges += cms
    }
  }

  private def doCompact(): Unit = {
    val (meta, ms) = ctx.op("compact") {
      tracer.span("lake.compact")(Lake.compact(spark, root, fg))
    } { m =>
      if (m.rowsInserted == state.size) None
      else Some(s"compaction wrote ${m.rowsInserted} rows, model has ${state.size}")
    }
    compact += ms
    meta.foreach { m =>
      commits.clear()
      commits += Commit(m.commitTime, state, Map.empty)
    }
    ctx.check("latest_snapshot") {
      sameState(fs.read(Query.selectAll(fg)).collect(), state)
    }
  }

  /** One cycle: four upserts, each followed by a read of a key it wrote;
    * a delete after the second, followed by a read of a deleted key; an
    * as-of and an incremental read after the third; then a compaction and
    * a check of the whole latest snapshot.
    */
  def cycle(): Unit = {
    for (i <- 0 until 4) {
      val written = doUpsert()
      readKey(written(ctx.rnd.nextInt(written.size)))
      if (i == 1) readKey(doDelete().head)
      if (i == 2) readHistory()
    }
    doCompact()
  }

  def warmup(): Unit = cycle()

  def startMeasuring(): Unit = {
    Seq(upsert, delete, compact, readLatest, readAsOf, readChanges).foreach(_.clear())
    rowsCommitted = 0
    filesWritten.clear()
  }

  private def writeMs = upsert.sum + delete.sum + compact.sum

  def endToEnd(): Map[String, Double] = Map(
    "op_ms_p50" -> upsert.p50,
    "rows_per_s" -> rowsCommitted / (writeMs / 1000))

  def layerExtras(): Map[String, Double] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val stored = rootPath.getFileSystem(hconf).getContentSummary(rootPath).getLength
    val probe = ctx.path("space_probe")
    fs.read(Query.selectAll(fg)).write.parquet(probe)
    val probePath = new org.apache.hadoop.fs.Path(probe)
    val fresh = probePath.getFileSystem(hconf).getContentSummary(probePath).getLength
    deleteTree(probe)
    Map(
      "lake.upsert.files_written" ->
        (if (filesWritten.isEmpty) 0.0 else filesWritten.sum / filesWritten.size),
      "lake.stored_mb_end" -> stored / 1e6,
      "lake.space_amp" -> stored.toDouble / fresh,
      "lake.data_files_end" -> dataFiles().toDouble)
  }

  def detail(): Map[String, Any] = Map(
    "upsert_ms_p50" -> upsert.p50,
    "upsert_ms_tail" -> upsert.tail,
    "ingest_rows_per_s" -> rowsCommitted / (writeMs / 1000),
    "read_latest_ms_p50" -> readLatest.p50,
    "read_asof_ms_p50" -> readAsOf.p50,
    "ops" -> Map("upsert" -> upsert.summary, "delete" -> delete.summary,
      "compact" -> compact.summary, "read_latest" -> readLatest.summary,
      "read_asof" -> readAsOf.summary, "read_changes" -> readChanges.summary),
    "rows_committed" -> rowsCommitted,
    "lake_create_s_each" -> createS.ms.map(_ / 1000))
}
