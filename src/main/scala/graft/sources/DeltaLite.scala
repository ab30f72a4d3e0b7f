package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Delta Lake tables at the PROTOCOL level (the public delta-io
  * PROTOCOL.md), without the delta-spark jar: a `_delta_log/` of
  * zero-padded `%020d.json` commit files whose newline-delimited
  * actions (`protocol`, `metaData` with the schema as Spark's own
  * schema-JSON, `add`, `remove`, `commitInfo`) are replayed into the
  * live file set; data files are ordinary parquet written by Spark's
  * writer under a per-version subdirectory (`add.path` is
  * table-root-relative, so version dirs keep the diffing trivial and
  * are protocol-legal). This is the transaction-log half of the
  * reference's Delta engine (`core/delta_engine.py:54-170` — create /
  * append / overwrite / time travel).
  *
  * OPTIMISTIC CONCURRENCY (r11, PROTOCOL.md §"Transactions": a writer
  * MUST NOT overwrite an existing `%020d.json` entry): every commit
  * publishes through an atomic PUT-IF-ABSENT — on a local filesystem
  * the staged JSON is hard-LINKED into place (`link(2)` fails with
  * EEXIST when the target exists, the textbook put-if-absent; an
  * O_EXCL-style rename-no-replace isn't portably exposed), on
  * HDFS-like stores via exclusive create (atomic at the namenode). A
  * writer that loses the race REBASES: it re-reads the head version,
  * recomputes its actions against the freshly observed state (appends
  * commute so the retry is just a version bump; overwrite recomputes
  * its remove set), and tries the next version. Data files are staged
  * ONCE under a per-transaction directory before the first attempt, so
  * retries never rewrite data — only the ~1 KB commit JSON. The one
  * unsynchronized residue is the `_last_checkpoint` pointer: two
  * winners checkpointing different versions race last-writer-wins on
  * the pointer, and either value is a valid seed (resolution probes
  * the contiguous tail forward).
  *
  * CHECKPOINTS (PROTOCOL.md §"Checkpoints"): every
  * [[CheckpointInterval]] commits the full replay state is written as
  * `%020d.checkpoint.parquet` — one row per action under the
  * protocol's top-level `protocol`/`metaData`/`add` struct columns —
  * and `_last_checkpoint` points at it (`{"version":V,"size":N}`).
  * Snapshot reconstruction then costs O(checkpoint + tail), not
  * O(commits): the newest checkpoint ≤ the requested version seeds the
  * state and only the JSON commits AFTER it are replayed. A 10⁵-commit
  * table reads ≤ [[CheckpointInterval]]−1 JSON files plus one parquet.
  * Expired `remove` tombstones are not carried into checkpoints (legal
  * per the protocol's retention rule; this writer stamps
  * `deletionTimestamp: 0`, so every tombstone is past retention by the
  * time a checkpoint is cut — and single-writer means no concurrent
  * vacuum needs them).
  *
  * What makes it "real" interop rather than an analog: the on-disk
  * layout is the published protocol — a stock delta-spark reader
  * presented with these directories resolves the same snapshots
  * (structure asserted field-by-field in DeltaLiteSpec; the jar itself
  * is absent from this environment).
  *
  * Scale shape: data files are written and read by Spark's parquet
  * path (pushdown/pruning intact — snapshot reads pass the live file
  * list to `spark.read.parquet`); the log replay is driver-side and
  * O(tail) thanks to checkpoints. The checkpoint itself is a tiny
  * |live files|+2-row frame written through Spark's parquet writer.
  *
  * Every filesystem is resolved from the session's Hadoop
  * configuration, so a table lives wherever Spark's own reader and
  * writer can reach (custom schemes, credentials, `fs.*` settings).
  *
  * [[Lake]] commits through the same log: [[transact]] is the
  * put-if-absent + rebase loop, with `add.tags` and
  * `metaData.configuration` carrying the merge-on-read table's commit
  * times and retention horizon through checkpoints.
  */
object DeltaLite {

  /** Cut a checkpoint every this many commits (delta's own default). */
  val CheckpointInterval = 10

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, "_delta_log")

  private def commitFile(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%020d.json")

  private def checkpointFile(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  private def lastCheckpointFile(table: String): Path =
    new Path(logDir(table), "_last_checkpoint")

  /** Sorted existing commit versions (JSON commit files only). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val ld = logDir(table)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Sorted existing checkpoint versions (from the directory listing —
    * the fallback when `_last_checkpoint` is absent or ahead of the
    * requested time-travel version).
    */
  private[graft] def checkpointVersions(spark: SparkSession,
                                        table: String): Seq[Long] = {
    val f = fs(spark, table)
    val ld = logDir(table)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet").toLong).sorted
  }

  /** The `_last_checkpoint` pointer, if present and readable. */
  private[graft] def lastCheckpoint(spark: SparkSession,
                                    table: String): Option[Long] = {
    val f = fs(spark, table)
    val p = lastCheckpointFile(table)
    if (!f.exists(p)) None
    else {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(bytes) finally in.close()
      val node = mapper.readTree(new String(bytes, "UTF-8"))
      if (node.has("version")) Some(node.get("version").asLong) else None
    }
  }

  /** Atomic put-if-absent publish of commit `v`. Returns false when the
    * version already exists — the caller lost the race and must rebase.
    * Local scheme: stage to a hidden `.tmp` in `_delta_log`, then
    * `Files.createLink` (atomic, EEXIST on conflict) and drop the
    * stage. Other schemes: exclusive create (atomic on HDFS).
    */
  private[graft] def tryPublish(spark: SparkSession, table: String, v: Long,
                                actions: Seq[String]): Boolean = {
    val f = fs(spark, table)
    val target = commitFile(table, v)
    if (f.getScheme == "file") {
      val tmp = new Path(logDir(table),
        f".$v%020d.json.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = f.create(tmp, false)
      try actions.foreach(a => out.write((a + "\n").getBytes("UTF-8")))
      finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally f.delete(tmp, false)
    } else {
      if (f.exists(target)) false
      else
        try {
          val out = f.create(target, false)
          try actions.foreach(a => out.write((a + "\n").getBytes("UTF-8")))
          finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }
  }

  /** The optimistic-concurrency loop: try successive versions until the
    * put-if-absent publish wins. `attempt(v)` is re-evaluated on every
    * attempt so a loser REBASES against the freshly observed head
    * (v − 1) rather than replaying a stale view; it returns None to
    * abandon the transaction (nothing left to do at the new head). The
    * first version tried is one past the newest in the log, 0 for a
    * table without one. An attempt that fails while another writer
    * has already published v lost the race too (it may have read files
    * that commit removed and deleted), so it rebases instead of
    * failing. Bounded — an FS whose put-if-absent always "loses" must
    * surface as an error, not an infinite loop. Returns the published
    * version.
    */
  private[graft] def transact(spark: SparkSession, table: String)
                             (attempt: Long => Option[Seq[String]]): Option[Long] = {
    val maxAttempts = 1000
    def head = versions(spark, table).lastOption.getOrElse(-1L)
    var v = head + 1
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val won =
        try attempt(v).map(tryPublish(spark, table, v, _))
        catch { case scala.util.control.NonFatal(_) if head >= v => Some(false) }
      won match {
        case None => return None
        case Some(true) =>
          maybeCheckpoint(spark, table, v)
          return Some(v)
        case Some(false) =>
          // lost the race: rebase to at least one past the newest head
          v = math.max(v + 1, head + 1)
      }
    }
    sys.error(s"$table: lost the commit race $maxAttempts times")
  }

  private def commitWithRetry(spark: SparkSession, table: String)
                             (actions: Long => Seq[String]): Long = {
    require(versions(spark, table).nonEmpty,
      s"$table has no log — create first")
    transact(spark, table)(v => Some(actions(v))).get
  }

  private[graft] def protocolAction: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private[graft] def metaDataAction(schema: StructType, id: String,
                                    configuration: Map[String, String]): String = {
    val node = mapper.createObjectNode()
    val md = node.putObject("metaData")
    md.put("id", id)
    md.put("schemaString", schema.json)
    md.putObject("format").put("provider", "parquet")
    md.putArray("partitionColumns")
    val conf = md.putObject("configuration")
    configuration.foreach { case (k, v) => conf.put(k, v) }
    md.put("createdTime", 0L)
    mapper.writeValueAsString(node)
  }

  private[graft] def addAction(add: Add): String = {
    val node = mapper.createObjectNode()
    val a = node.putObject("add")
    a.put("path", add.path)
    a.putObject("partitionValues")
    a.put("size", add.size)
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    if (add.tags.nonEmpty) {
      val tags = a.putObject("tags")
      add.tags.foreach { case (k, v) => tags.put(k, v) }
    }
    mapper.writeValueAsString(node)
  }

  private[graft] def removeAction(relPath: String): String = {
    val node = mapper.createObjectNode()
    val r = node.putObject("remove")
    r.put("path", relPath)
    r.put("deletionTimestamp", 0L)
    r.put("dataChange", true)
    mapper.writeValueAsString(node)
  }

  /** Write `df`'s parquet files under `<table>/<dirName>/`, in
    * `partitionBy` directories below it, and return them as adds
    * (table-relative path + size). `dirName` is `v0` for create and a
    * per-transaction directory for append/overwrite — staged ONCE
    * before the first commit attempt, so losing the commit race never
    * rewrites data (add paths are opaque to the protocol).
    */
  private[graft] def writeData(df: DataFrame, table: String, dirName: String,
                               partitionBy: Seq[String]): Seq[Add] = {
    val dir = new Path(s"$table/$dirName")
    df.write.mode("errorifexists").partitionBy(partitionBy: _*).parquet(dir.toString)
    val f = fs(df.sparkSession, table)
    val base = f.makeQualified(dir).toUri.getPath
    def leaves(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    leaves(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => Add(dirName + s.getPath.toUri.getPath.stripPrefix(base), s.getLen, Map.empty))
  }

  private def txDir(): String =
    s"tx-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Version 0: protocol + metaData + the initial adds. Put-if-absent
    * on the v0 entry — of two concurrent creates exactly one wins; the
    * loser gets an error (there is no meaningful rebase for create).
    */
  def create(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    require(versions(spark, table).isEmpty, s"$table already has a _delta_log")
    fs(spark, table).mkdirs(logDir(table))
    val files = writeData(df, table, "v0", Nil)
    val won = tryPublish(spark, table, 0L,
      Seq(protocolAction,
        metaDataAction(df.schema, java.util.UUID.randomUUID.toString,
          Map.empty)) ++ files.map(addAction))
    require(won, s"$table: concurrent create — another writer owns v0")
    0L
  }

  /** Append commit: adds only. Appends commute with appends, so a lost
    * race rebases by just bumping the version (data staged once).
    */
  def append(df: DataFrame, table: String): Long = {
    val adds = writeData(df, table, txDir(), Nil).map(addAction)
    commitWithRetry(df.sparkSession, table)(_ => adds)
  }

  /** Overwrite commit: remove every live file, add the new ones. A
    * lost race REBASES the remove set — the retry recomputes the live
    * files at the freshly observed head (v − 1), so files added by the
    * interleaved winner are removed too (full-table overwrite
    * semantics; delta-spark resolves the same way for blind
    * mode=overwrite).
    */
  def overwrite(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    require(versions(spark, table).nonEmpty, s"$table has no log — create first")
    val adds = writeData(df, table, txDir(), Nil).map(addAction)
    commitWithRetry(spark, table) { v =>
      replayState(spark, table, Some(v - 1)).adds.map(_.path)
        .map(removeAction) ++ adds
    }
  }

  // ------------------------------------------------------------------
  // snapshot state: checkpoint + JSON tail
  // ------------------------------------------------------------------

  /** One live data file: table-relative path, size, and the add's
    * `tags` (protocol-level string metadata, carried into checkpoints).
    */
  private[graft] final case class Add(path: String, size: Long,
                                      tags: Map[String, String])

  /** Full replay state at one version: the declared schema, the
    * metaData id and configuration, and the live files in add order.
    */
  private[graft] final case class State(schema: StructType, metaId: String,
                                        configuration: Map[String, String],
                                        adds: Seq[Add])

  /** Checkpoint parquet schema — the protocol's top-level action struct
    * columns (one row per action, exactly one struct non-null), as a
    * parquet MessageType so both halves of the checkpoint IO run
    * driver-side on parquet-hadoop (no Spark job for a ≤|live files|+2
    * row file — the write happens inside every Nth commit and the read
    * inside every snapshot resolution, so both must be cheap).
    */
  private val cpMessage = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("""
      message checkpoint {
        optional group protocol {
          optional int32 minReaderVersion;
          optional int32 minWriterVersion;
        }
        optional group metaData {
          optional binary id (UTF8);
          optional group format { optional binary provider (UTF8); }
          optional binary schemaString (UTF8);
          optional group partitionColumns (LIST) {
            repeated group list { optional binary element (UTF8); }
          }
          optional group configuration (MAP) {
            repeated group key_value {
              required binary key (UTF8);
              optional binary value (UTF8);
            }
          }
          optional int64 createdTime;
        }
        optional group add {
          optional binary path (UTF8);
          optional group partitionValues (MAP) {
            repeated group key_value {
              required binary key (UTF8);
              optional binary value (UTF8);
            }
          }
          optional int64 size;
          optional int64 modificationTime;
          optional boolean dataChange;
          optional group tags (MAP) {
            repeated group key_value {
              required binary key (UTF8);
              optional binary value (UTF8);
            }
          }
        }
      }""")

  private type Group = org.apache.parquet.example.data.Group

  private def putMap(g: Group, field: String, m: Map[String, String]): Unit = {
    val mg = g.addGroup(field) // present even when empty
    m.foreach { case (k, v) => mg.addGroup("key_value").append("key", k).append("value", v) }
  }

  private def getMap(g: Group, field: String): Map[String, String] =
    if (g.getFieldRepetitionCount(field) == 0) Map.empty
    else {
      val mg = g.getGroup(field, 0)
      (0 until mg.getFieldRepetitionCount("key_value")).map { i =>
        val kv = mg.getGroup("key_value", i)
        kv.getString("key", 0) -> kv.getString("value", 0)
      }.toMap
    }

  /** Write the `%020d.checkpoint.parquet` + `_last_checkpoint` pair for
    * version `v`. Driver-side parquet-hadoop write — one tiny file,
    * exact protocol name, no Spark job and no temp-dir rename dance.
    * Commits call it automatically every [[CheckpointInterval]]
    * versions.
    */
  private def writeCheckpoint(spark: SparkSession, table: String,
                              v: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val st = replayState(spark, table, Some(v))
    val f = fs(spark, table)
    val cpPath = checkpointFile(table, v)
    if (f.exists(cpPath)) f.delete(cpPath, false)
    val writer = ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(cpPath, spark.sparkContext.hadoopConfiguration))
      .withType(cpMessage).build()
    val factory = new SimpleGroupFactory(cpMessage)
    val gp = factory.newGroup()
    val pr = gp.addGroup("protocol")
    pr.add("minReaderVersion", 1); pr.add("minWriterVersion", 2)
    writer.write(gp)
    val gm = factory.newGroup()
    val md = gm.addGroup("metaData")
    md.add("id", st.metaId)
    md.addGroup("format").add("provider", "parquet")
    md.add("schemaString", st.schema.json)
    md.addGroup("partitionColumns") // present and empty
    putMap(md, "configuration", st.configuration)
    md.add("createdTime", 0L)
    writer.write(gm)
    st.adds.foreach { add =>
      val g = factory.newGroup()
      val a = g.addGroup("add")
      a.add("path", add.path)
      a.addGroup("partitionValues") // present and empty
      a.add("size", add.size)
      a.add("modificationTime", 0L)
      // delta-spark convention: checkpoint add entries carry
      // dataChange=false (they restate state, they are not new data);
      // state reconstruction ignores the flag either way
      a.add("dataChange", false)
      putMap(a, "tags", add.tags)
      writer.write(g)
    }
    writer.close()
    val out = f.create(lastCheckpointFile(table), true)
    out.write(s"""{"version":$v,"size":${st.adds.size + 2}}"""
      .getBytes("UTF-8"))
    out.close()
  }

  private def maybeCheckpoint(spark: SparkSession, table: String, v: Long): Unit =
    if (v > 0 && v % CheckpointInterval == 0)
      writeCheckpoint(spark, table, v)

  /** Load a checkpoint parquet back into a seed [[State]]. Read
    * DRIVER-SIDE via parquet-hadoop's own reader — snapshot resolution
    * must not cost a Spark job: a |live files|+2-row file reads in
    * single-digit milliseconds, so log replay latency is pure local IO
    * of the tail, O(tail) with a tiny constant.
    */
  private def loadCheckpoint(spark: SparkSession, table: String, v: Long): State = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val reader: ParquetReader[Group] = ParquetReader
      .builder(new GroupReadSupport(), checkpointFile(table, v))
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    var schema: StructType = null
    var metaId: String = null
    var configuration = Map.empty[String, String]
    val adds = Seq.newBuilder[Add]
    try {
      var g = reader.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("metaData") > 0) {
          val md = g.getGroup("metaData", 0)
          schema = DataType.fromJson(md.getString("schemaString", 0))
            .asInstanceOf[StructType]
          metaId = md.getString("id", 0)
          configuration = getMap(md, "configuration")
        }
        if (g.getFieldRepetitionCount("add") > 0) {
          val add = g.getGroup("add", 0)
          adds += Add(add.getString("path", 0), add.getLong("size", 0),
            getMap(add, "tags"))
        }
        g = reader.read()
      }
    } finally reader.close()
    require(schema != null, s"checkpoint $v carries no metaData")
    State(schema, metaId, configuration, adds.result())
  }

  private def stringMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    if (node == null) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  /** The actions of commit `v`, one parsed JSON node per line. */
  private def readCommit(spark: SparkSession, table: String,
                         v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs(spark, table).open(commitFile(table, v)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(mapper.readTree).toList
    finally in.close()
  }

  /** The `commitInfo` action of commit `v`, if it carries one. */
  private[graft] def commitInfo(spark: SparkSession, table: String,
                                v: Long): Option[com.fasterxml.jackson.databind.JsonNode] =
    readCommit(spark, table, v).collectFirst {
      case n if n.has("commitInfo") => n.get("commitInfo")
    }

  /** State at `asOf` (default latest): seed from the newest checkpoint
    * ≤ `asOf`, then replay only the JSON commits after it. When the
    * `_last_checkpoint` pointer applies, the tail is found by probing
    * the CONTIGUOUS commit sequence forward from the pointer — no
    * directory listing at all, so resolution is O(tail) even when the
    * log directory holds 10⁵ files (delta's own readers use the
    * pointer + a listing that starts AFTER the checkpoint for the same
    * reason). The full listing survives only in the fallbacks: no
    * pointer yet, or time travel BEHIND the pointer (which then seeds
    * from an older checkpoint found by listing).
    */
  private[graft] def replayState(spark: SparkSession, table: String,
                                 asOf: Option[Long]): State = {
    val f = fs(spark, table)
    val ptr = lastCheckpoint(spark, table)
    val (cp, upTo): (Option[Long], Long) = (ptr, asOf) match {
      case (Some(v), None) =>
        // latest = pointer + contiguous tail, probed without a listing
        var u = v
        while (f.exists(commitFile(table, u + 1))) u += 1
        (Some(v), u)
      case (Some(v), Some(u)) if v <= u =>
        require(u == v || f.exists(commitFile(table, u)),
          s"version $u not in log")
        (Some(v), u)
      case _ => // no pointer, or time travel behind it
        val vs = versions(spark, table)
        val cps = checkpointVersions(spark, table)
        require(vs.nonEmpty || cps.nonEmpty, s"$table has no _delta_log")
        val u = asOf.getOrElse((vs ++ cps).max)
        require(vs.contains(u) || cps.contains(u),
          s"version $u not in ${(vs ++ cps).distinct.sorted.mkString(",")}")
        (cps.filter(_ <= u).lastOption, u)
    }
    val seed = cp.map(loadCheckpoint(spark, table, _))
    val live = scala.collection.mutable.LinkedHashMap[String, Add]()
    seed.foreach(_.adds.foreach(a => live(a.path) = a))
    var schema: StructType = seed.map(_.schema).orNull
    var metaId: String = seed.map(_.metaId).orNull
    var configuration = seed.fold(Map.empty[String, String])(_.configuration)
    ((cp.getOrElse(-1L) + 1) to upTo).foreach { v =>
      readCommit(spark, table, v).foreach { node =>
        if (node.has("add")) {
          val a = node.get("add")
          val path = a.get("path").asText()
          live(path) = Add(path, a.get("size").asLong, stringMap(a.get("tags")))
        } else if (node.has("remove"))
          live -= node.get("remove").get("path").asText()
        else if (node.has("metaData")) {
          val md = node.get("metaData")
          schema = DataType.fromJson(md.get("schemaString").asText())
            .asInstanceOf[StructType]
          metaId = md.get("id").asText()
          configuration = stringMap(md.get("configuration"))
        }
      }
    }
    require(schema != null, s"$table log carries no metaData")
    State(schema, metaId, configuration, live.values.toSeq)
  }

  /** Latest state, or None when `table` has no log yet. */
  private[graft] def latest(spark: SparkSession, table: String): Option[State] =
    if (fs(spark, table).exists(logDir(table))) Some(replayState(spark, table, None))
    else None

  /** Snapshot read at `asOf` (default latest): the live files through
    * Spark's parquet reader under the log's declared schema. An empty
    * snapshot (everything removed) is the schema's empty frame.
    */
  def snapshot(spark: SparkSession, table: String,
               asOf: Option[Long] = None): DataFrame = {
    val st = replayState(spark, table, asOf)
    val files = st.adds.map(a => s"$table/${a.path}")
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st.schema)
    else spark.read.schema(st.schema).parquet(files: _*)
  }

  /** Incremental read: rows in files ADDED in versions (`fromExclusive`,
    * `toInclusive`] — the protocol-level `read_changes`.
    */
  def readChanges(spark: SparkSession, table: String, fromExclusive: Long,
                  toInclusive: Long): DataFrame = {
    val before = replayState(spark, table, Some(fromExclusive))
      .adds.map(_.path).toSet
    val after = replayState(spark, table, Some(toInclusive))
    val newFiles = after.adds.map(_.path).filterNot(before)
      .map(p => s"$table/$p")
    if (newFiles.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        after.schema)
    else spark.read.schema(after.schema).parquet(newFiles: _*)
  }
}
