package graft.sources

import graft.model.FeatureGroup
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Commit-logged lakehouse table: the engine's analog of the reference's
  * Hudi/Delta feature-group storage (python/hsfs/core/hudi_engine.py:85-274,
  * core/delta_engine.py:54-204).
  *
  * Layout under `root`:
  * {{{
  *   _delta_log/%020d.json                          ([[DeltaLite]] transaction log)
  *   data/_tx=[id]/[partitionKey=v/]part-NNN.parquet (one directory per commit)
  * }}}
  *
  * Every commit is ONE [[DeltaLite]] version, published by its
  * put-if-absent + rebase loop ([[DeltaLite.transact]]):
  *  - the commit's rows are staged once under a fresh `data/_tx=[id]/`
  *    and become `add` actions; a writer that crashes before publishing
  *    leaves a directory no read ever lists;
  *  - a `commitInfo` action carries the commit time, the operation and
  *    the inserted / updated / deleted counts ([[commitDetails]]);
  *  - the commit time is assigned inside each publish attempt as
  *    max(now, head time + 1), so times rise strictly with version and
  *    two writers in one millisecond still get distinct commits. Each
  *    `add` carries its rows' time in `tags`, so the live set at any
  *    version (checkpoint + tail) maps every commit directory to its time.
  *
  * Reads resolve the live commits from the log and hand Spark one
  * directory per commit, so time travel and incremental reads are
  * driver-side pruning — a 100 TB table as-of t scans only commits ≤ t,
  * an incremental read only the (t0, t1] commits.
  *
  * Writes are append-only (merge-on-read): upsert/delete append rows and
  * tombstones; the snapshot read resolves the latest version per record
  * key with one window — the same shuffle a MERGE INTO would need,
  * without rewriting existing files. `compact` and `cleanCommits` are
  * each one version that removes the replaced commits and adds a
  * squashed base (Hudi compaction / archived timeline), then delete the
  * removed directories. They set the retention horizon in the log's
  * `metaData.configuration`; time travel before it fails fast.
  *
  * Record identity = primary key + event time (hudi record-key semantics,
  * core/hudi_engine.py:122-145); duplicate versions resolved by
  * (_commit_time desc, precombine desc) — last writer wins, ties broken by
  * the precombine column (core/hudi_engine.py:141-149). `_commit_time` is
  * always the logged time of the commit holding the row.
  */
object Lake {

  val CommitCol = "_commit_time"
  val DeletedCol = "_deleted"
  private val TxCol = "_tx"
  private val TimeTag = "commitTime"
  private val HorizonKey = "graft.lake.horizon"

  final case class CommitMeta(
      commitTime: Long,
      operation: String,
      rowsInserted: Long,
      rowsUpdated: Long,
      rowsDeleted: Long)

  private def dataPath(root: String) = s"$root/data"
  private def txPath(root: String, tx: Long) = s"${dataPath(root)}/$TxCol=$tx"

  /** Through the session's Hadoop conf, like every other access. */
  private def deleteTx(spark: SparkSession, root: String, tx: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(txPath(root, tx))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def recordKey(fg: FeatureGroup): Seq[String] =
    (fg.primaryKey ++ fg.eventTime).distinct

  /** One live commit: its transaction id, logged time and data files. */
  private final case class Commit(tx: Long, time: Long, files: Seq[String])

  /** Live commits in time order (adds are `data/_tx=[id]/...`). */
  private def commits(st: Option[DeltaLite.State]): Seq[Commit] =
    st.fold(Seq.empty[DeltaLite.Add])(_.adds)
      .groupBy(_.path.split('/')(1).stripPrefix(s"$TxCol=").toLong)
      .map { case (tx, adds) =>
        Commit(tx, adds.head.tags(TimeTag).toLong, adds.map(_.path))
      }
      .toSeq.sortBy(_.time)

  private def horizon(st: Option[DeltaLite.State]): Option[Long] =
    st.flatMap(_.configuration.get(HorizonKey)).map(_.toLong)

  /** Feature columns of the table: the declared features, else the
    * logged schema (schema-less groups widen it commit by commit).
    */
  private def columns(fg: FeatureGroup, st: Option[DeltaLite.State]): StructType =
    if (fg.features.nonEmpty || st.isEmpty) fg.schema
    else StructType(st.get.schema.filterNot(_.name == DeletedCol))

  /** Commit times of the live commits, ascending. */
  def listCommits(spark: SparkSession, root: String): Seq[Long] =
    commits(DeltaLite.latest(spark, root)).map(_.time)

  /** The rows of `cs` under an explicit schema — no footer sweep, and
    * files predating an appended column surface it as null — with each
    * row's logged commit time and tombstone flag. One directory per
    * commit, below `basePath` so `_tx` and the partition keys come back
    * as columns.
    */
  private def rows(spark: SparkSession, root: String, schema: StructType,
                   cs: Seq[Commit]): DataFrame = {
    val full = StructType(schema.fields :+ StructField(DeletedCol, BooleanType) :+
      StructField(TxCol, LongType))
    val raw =
      if (cs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), full)
      else spark.read.schema(full).option("basePath", dataPath(root))
        .parquet(cs.map(c => txPath(root, c.tx)): _*)
    raw.withColumn(CommitCol,
        element_at(typedLit(cs.map(c => c.tx -> c.time).toMap), col(TxCol)))
      .drop(TxCol)
  }

  /** Latest live row per record key, in `schema`'s column order. */
  private def resolve(raw: DataFrame, fg: FeatureGroup,
                      schema: StructType): DataFrame =
    dedupLatest(raw, fg).filter(!col(DeletedCol))
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)

  /** Read-path safety net for tables created before a column was
    * declared: appended columns surface as null for older commits and
    * fill their declared defaults here.
    */
  private def withDefaults(df: DataFrame, fg: FeatureGroup): DataFrame =
    if (fg.features.isEmpty) df
    else graft.ops.SchemaOps.alignToFeatures(df, fg.features, fillNullDefaults = true)

  /** The state of `cs` as a snapshot reads it. */
  private def state(spark: SparkSession, root: String, fg: FeatureGroup,
                    st: Option[DeltaLite.State], cs: Seq[Commit]): DataFrame = {
    val schema = columns(fg, st)
    withDefaults(resolve(rows(spark, root, schema, cs), fg, schema), fg)
  }

  /** Rows written under a fresh transaction directory, not yet in the log. */
  private final case class Staged(tx: Long, files: Seq[DeltaLite.Add],
                                  rows: Long, schema: StructType)

  /** Write `df` (tombstone flag included) under `data/_tx=[id]/`, then
    * the feature group's partition keys (reference partitionBy,
    * engine/spark.py:501-505). The row count rides the write as an
    * `observe` metric. A commit of no rows keeps no files.
    */
  private def stage(spark: SparkSession, root: String, fg: FeatureGroup,
                    df: DataFrame): Staged = {
    val tx = java.util.concurrent.ThreadLocalRandom.current.nextLong(Long.MaxValue)
    val obs = Observation()
    val files = DeltaLite.writeData(df.observe(obs, count(lit(1)).as("n")), root,
      s"data/$TxCol=$tx", fg.partitionKey.filter(df.columns.contains))
    val n = obs.get("n").toString.toLong
    if (n == 0) deleteTx(spark, root, tx)
    Staged(tx, if (n == 0) Nil else files, n, df.schema)
  }

  /** What one publish attempt commits: the staged rows and the time
    * they carry, the commits it replaces, the horizon it sets, and its
    * counts.
    */
  private final case class Change(staged: Staged, time: Long, removed: Seq[Commit],
                                  horizon: Option[Long], counts: (Long, Long, Long))

  /** Publish one version. `change(head, t)` runs inside every attempt
    * against the state at v − 1 (None for v0) and the attempt's commit
    * time t; None abandons the commit. Staging an attempt superseded
    * is deleted; after publishing, so are the directories of the
    * commits the version removed.
    */
  private def publish(spark: SparkSession, root: String, operation: String)
                     (change: (Option[DeltaLite.State], Long) => Option[Change])
      : Option[CommitMeta] = {
    var last: Option[Change] = None
    var meta: CommitMeta = null
    val published = DeltaLite.transact(spark, root) { v =>
      val head = if (v == 0) None else Some(DeltaLite.replayState(spark, root, Some(v - 1)))
      val headTime = if (v == 0) 0L else DeltaLite.commitInfo(spark, root, v - 1)
        .fold(0L)(_.get(TimeTag).asLong)
      val t = math.max(System.currentTimeMillis(), headTime + 1)
      val c = change(head, t)
      for (old <- last; if !c.exists(_.staged.tx == old.staged.tx))
        deleteTx(spark, root, old.staged.tx)
      last = c
      c.map { c =>
        val (ins, upd, del) = c.counts
        meta = CommitMeta(t, operation, ins, upd, del)
        val logged = head.fold(new StructType())(_.schema)
        val schema = StructType(logged.fields ++
          c.staged.schema.fields.filterNot(f => logged.fieldNames.contains(f.name)))
        val conf = head.fold(Map.empty[String, String])(_.configuration) ++
          c.horizon.map(h => HorizonKey -> h.toString)
        val metaData =
          if (head.nonEmpty && schema == logged && c.horizon.isEmpty) Nil
          else Seq(DeltaLite.metaDataAction(schema,
            head.fold(java.util.UUID.randomUUID.toString)(_.metaId), conf))
        (if (head.isEmpty) Seq(DeltaLite.protocolAction) else Nil) ++ metaData ++
          c.removed.flatMap(_.files).map(DeltaLite.removeAction) ++
          c.staged.files.map(a =>
            DeltaLite.addAction(a.copy(tags = Map(TimeTag -> c.time.toString)))) :+
          s"""{"commitInfo":{"$TimeTag":$t,"operation":"$operation",""" +
            s""""rowsInserted":$ins,"rowsUpdated":$upd,"rowsDeleted":$del}}"""
      }
    }
    for (c <- last; _ <- published; r <- c.removed) deleteTx(spark, root, r.tx)
    published.map(_ => meta)
  }

  /** Append one commit of rows. Staged once: a lost race reuses the
    * files and recomputes the counts against the new head.
    *
    * Counts classify the commit for metadata parity with Hudi commit
    * stats (core/hudi_engine.py:246-274): the row count comes from the
    * staging write; updates are the batch keys live at the head,
    * resolved ONLY for those keys — the live commits are semi-pruned by
    * the batch's key set before the latest-version window, so an upsert
    * of k keys into a 100 TB table shuffles O(k · versions) rows, never
    * the whole snapshot. `computeStats = false` skips that job (stream
    * commits shouldn't rescan the table per micro-batch).
    */
  private def writeCommit(
      spark: SparkSession,
      root: String,
      fg: FeatureGroup,
      df: DataFrame,
      operation: String,
      computeStats: Boolean): CommitMeta = {
    // schema evolution at write time: a batch missing declared columns
    // gets them appended with their declared defaults (feature_group.py:853,
    // engine/spark.py:1251-1265) so every commit carries the full schema
    val aligned =
      if (fg.features.nonEmpty) graft.ops.SchemaOps.alignToFeatures(df, fg.features)
      else df
    val staged = stage(spark, root, fg, aligned.withColumn(DeletedCol, lit(false)))
    publish(spark, root, operation) { (head, t) =>
      val live = commits(head)
      val counts =
        if (!computeStats) (-1L, -1L, -1L)
        else if (live.isEmpty || staged.rows == 0) (staged.rows, 0L, 0L)
        else {
          val keys = recordKey(fg)
          val incoming = aligned.select(keys.map(col): _*)
          val schema = columns(fg, head)
          val current = resolve(rows(spark, root, schema, live)
              .join(incoming.distinct(), keys, "left_semi"), fg, schema)
            .select(keys.map(col): _*).withColumn("_m", lit(1))
          val r = incoming.join(current, keys, "left").agg(sum(col("_m"))).collect().head
          val matched = if (r.isNullAt(0)) 0L else r.getLong(0)
          (staged.rows - matched, matched, 0L)
        }
      Some(Change(staged, t, Nil, None, counts))
    }.get
  }

  /** First write / bulk insert. */
  def create(spark: SparkSession, root: String, fg: FeatureGroup,
             df: DataFrame): CommitMeta =
    writeCommit(spark, root, fg, df, "bulk_insert", computeStats = true)

  /** Upsert: append-new-version semantics; snapshot read resolves the
    * winner (hudi upsert, core/hudi_engine.py:85-169).
    */
  def upsert(spark: SparkSession, root: String, fg: FeatureGroup,
             df: DataFrame, computeStats: Boolean = true): CommitMeta =
    writeCommit(spark, root, fg, df, operation = "upsert",
      computeStats = computeStats)

  /** Delete by key: tombstone append (EmptyHoodieRecordPayload analog,
    * core/hudi_engine.py:94-100). A tombstone carries the record's
    * state at the head, so each attempt restages against its head;
    * the live commits are semi-pruned by the deleted keys BEFORE the
    * latest-version window, so deleting k keys never windows the table.
    */
  def delete(spark: SparkSession, root: String, fg: FeatureGroup,
             keysDf: DataFrame): CommitMeta = {
    val keys = recordKey(fg)
    val kdf = keysDf.select(keys.map(col): _*).distinct()
    publish(spark, root, "delete") { (head, t) =>
      val schema = columns(fg, head)
      val tombstones = resolve(rows(spark, root, schema, commits(head))
        .join(kdf, keys, "left_semi"), fg, schema)
      val s = stage(spark, root, fg, tombstones.withColumn(DeletedCol, lit(true)))
      Some(Change(s, t, Nil, None, (0L, 0L, s.rows)))
    }.get
  }

  private def beforeHorizon(what: String, t: Long, h: Long) =
    new IllegalArgumentException(s"$what $t predates the retained commit " +
      s"horizon $h (older commits were compacted or cleaned)")

  /** Latest-state (or as-of) read. `asOf` in epoch millis, inclusive —
    * hudi `as.of.instant` semantics (core/hudi_engine.py:180-192): the
    * live commits with time ≤ `asOf`.
    */
  def snapshot(spark: SparkSession, root: String, fg: FeatureGroup,
               asOf: Option[Long]): DataFrame = {
    val st = DeltaLite.latest(spark, root)
    for (h <- horizon(st); t <- asOf; if t < h) throw beforeHorizon("as_of", t, h)
    state(spark, root, fg, st, commits(st).filter(c => asOf.forall(c.time <= _)))
  }

  /** Incremental read: latest state of records changed in (t0, t1]
    * (hudi incremental query, core/hudi_engine.py:193-219).
    */
  def readChanges(spark: SparkSession, root: String, fg: FeatureGroup,
                  exclusiveStart: Long, inclusiveEnd: Long): DataFrame = {
    val st = DeltaLite.latest(spark, root)
    // the squashed base sits at the horizon time: any range whose start
    // would include it is not a true incremental read
    for (h <- horizon(st); if exclusiveStart < h)
      throw beforeHorizon("incremental read from", exclusiveStart, h)
    val schema = columns(fg, st)
    val cs = commits(st).filter(c => c.time > exclusiveStart && c.time <= inclusiveEnd)
    resolve(rows(spark, root, schema, cs), fg, schema)
  }

  /** Resolve one winning row per record key: greatest (_commit_time,
    * precombine). The only shuffle in the read path; commit pruning has
    * already bounded its input.
    */
  private def dedupLatest(df: DataFrame, fg: FeatureGroup): DataFrame = {
    val keys = recordKey(df, fg)
    val ordering =
      col(CommitCol).desc +:
        fg.effectivePrecombine.filter(df.columns.contains)
          .map(col(_).desc).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  private def recordKey(df: DataFrame, fg: FeatureGroup): Seq[String] = {
    val k = recordKey(fg).filter(df.columns.contains)
    if (k.nonEmpty) k else df.columns.filterNot(Seq(CommitCol, DeletedCol).contains).toSeq
  }

  /** Rewrite the current snapshot as one base commit at the compaction's
    * own time, removing every live commit — bounds merge-on-read
    * amplification (Hudi compaction analog). The timeline restarts at
    * the base: the horizon moves to it. The removed directories are
    * deleted once the version is published: a concurrent writer
    * rebases, but a read planned before then fails — compact between
    * queries.
    */
  def compact(spark: SparkSession, root: String, fg: FeatureGroup): CommitMeta =
    publish(spark, root, "compact") { (head, t) =>
      val live = commits(head)
      val s = stage(spark, root, fg,
        state(spark, root, fg, head, live).withColumn(DeletedCol, lit(false)))
      Some(Change(s, t, live, Some(t), (s.rows, 0L, 0L)))
    }.get

  /** Oldest commit time still valid for time travel, if compaction or
    * retention has ever run (None = full history available).
    */
  def commitHorizon(spark: SparkSession, root: String): Option[Long] =
    horizon(DeltaLite.latest(spark, root))

  /** Bound the active timeline to the last `keepLast` commits (the
    * reference keeps a bounded Hudi active timeline — commits beyond it
    * are archived; constructor/query.py:367-372). Everything older is
    * squashed into one base commit at the newest archived commit time,
    * so snapshots/as-of/incremental reads at or after the horizon are
    * unchanged while the live commit count (and merge-on-read
    * amplification) stays bounded. Time travel BEFORE the horizon fails
    * fast with a clear error instead of returning partial state.
    * Returns the retained commits.
    */
  def cleanCommits(spark: SparkSession, root: String, fg: FeatureGroup,
                   keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    publish(spark, root, "clean") { (head, _) =>
      val live = commits(head)
      if (live.length <= keepLast) None
      else {
        val archived = live.dropRight(keepLast)
        val s = stage(spark, root, fg,
          state(spark, root, fg, head, archived).withColumn(DeletedCol, lit(false)))
        Some(Change(s, archived.last.time, archived, Some(archived.last.time),
          (s.rows, 0L, 0L)))
      }
    }
    listCommits(spark, root)
  }

  /** Commit metadata log, one row per version (rows inserted / updated /
    * deleted per commit — core/hudi_engine.py:246-274 parity).
    */
  def commitDetails(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    DeltaLite.versions(spark, root)
      .flatMap(DeltaLite.commitInfo(spark, root, _))
      .map(n => CommitMeta(n.get(TimeTag).asLong, n.get("operation").asText,
        n.get("rowsInserted").asLong, n.get("rowsUpdated").asLong,
        n.get("rowsDeleted").asLong))
      .toDF()
  }
}
