package graft

import graft.catalog.FeatureStore
import graft.sources.Lake
import java.nio.file.Files

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): FeatureStore =
    new FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake").toString)

  test("create / upsert / delete with precombine last-writer-wins") {
    val fs = freshStore()
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "v", "pc")
    val fg = fs.createFeatureGroup("t1", v1, primaryKey = Seq("id"),
      precombineKey = Some("pc"))

    // upsert: id=1 updated, id=3 inserted
    val m2 = fs.insert(fg, Seq((1L, "a2", 20L), (3L, "c", 5L)).toDF("id", "v", "pc"))
    assert(m2.rowsInserted === 1 && m2.rowsUpdated === 1 && m2.rowsDeleted === 0)

    val snap = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snap.toSeq === Seq((1L, "a2"), (2L, "b"), (3L, "c")))

    // delete id=2
    val m3 = fs.delete(fg, Seq(Tuple1(2L)).toDF("id"))
    assert(m3.rowsDeleted === 1)
    assert(fs.read(graft.ir.Query.selectAll(fg)).count() === 2)
  }

  test("precombine resolves same-commit duplicates") {
    val fs = freshStore()
    val dup = Seq((1L, "low", 1L), (1L, "high", 9L)).toDF("id", "v", "pc")
    val fg = fs.createFeatureGroup("t2", dup, primaryKey = Seq("id"),
      precombineKey = Some("pc"))
    val rows = fs.read(graft.ir.Query.selectAll(fg)).collect()
    assert(rows.length === 1 && rows.head.getAs[String]("v") === "high")
  }

  test("time travel: as_of and incremental read_changes") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("t3",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val t1 = Lake.listCommits(spark, root).head
    fs.insert(fg, Seq((1L, "v2"), (2L, "w1")).toDF("id", "v"))
    val t2 = Lake.listCommits(spark, root).last

    // as-of first commit sees only v1
    val asOf1 = Lake.snapshot(spark, root, fg, Some(t1))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(asOf1.toSeq === Seq((1L, "v1")))

    // incremental (t1, t2] sees the changed rows at their new state
    val inc = Lake.readChanges(spark, root, fg, t1, t2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inc.toSeq === Seq((1L, "v2"), (2L, "w1")))

    // commit metadata log
    val cd = Lake.commitDetails(spark, root).orderBy("commitTime").collect()
    assert(cd.length === 2)
  }

  test("partition keys shape the layout and prune at read time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val fs = freshStore()
    val df = Seq((1L, "BUILDING", 1.0), (2L, "AUTO", 2.0), (3L, "BUILDING", 3.0))
      .toDF("id", "seg", "x")
    val fg = fs.createFeatureGroup("t5", df, primaryKey = Seq("id"),
      partitionKey = Seq("seg"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    // physical layout: seg=... directories under each commit's directory
    val commitDirs = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.startsWith("_tx="))
    assert(commitDirs.length === 1)
    assert(commitDirs.head.listFiles().map(_.getName).filter(_.startsWith("seg="))
      .toSet === Set("seg=AUTO", "seg=BUILDING"))
    // declared schema (names, order, types) survives the partition round trip
    val snap = Lake.snapshot(spark, root, fg, None)
    assert(snap.columns.toSeq === Seq("id", "seg", "x"))
    assert(snap.schema("seg").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(snap.filter($"seg" === "AUTO").count() === 1)

    // the latest version of a key may sit in another partition, so a seg
    // filter can only skip files when seg is part of the record key: then
    // it reaches the scan as a partition filter and only seg=AUTO is read
    val keyed = fs.createFeatureGroup("t5k", df, primaryKey = Seq("id", "seg"),
      partitionKey = Seq("seg"))
    val keyedRoot = keyed.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(keyed, Seq((4L, "AUTO", 4.0), (5L, "BUILDING", 5.0)).toDF("id", "seg", "x"))
    def scan(q: org.apache.spark.sql.DataFrame): (Seq[Long], FileSourceScanExec) = {
      val ids = q.collect().map(_.getLong(0)).sorted.toSeq
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
        case s: FileSourceScanExec => Seq(s)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
        case other => other.children.flatMap(scans)
      }
      (ids, scans(plan).head)
    }
    val all = Lake.snapshot(spark, keyedRoot, keyed, None)
    val (ids, pruned) = scan(all.filter($"seg" === "AUTO"))
    assert(ids === Seq(2L, 4L))
    assert(pruned.partitionFilters.exists(_.references.exists(_.name == "seg")),
      s"seg filter must reach the scan:\n${pruned.partitionFilters}")
    val (_, full) = scan(all)
    val filesRead = pruned.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < full.metrics("numFiles").value)
  }

  test("schema evolution: appended column with default, old rows readable") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tev",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val fg2 = fg.copy(features = fg.features :+ graft.model.Feature(
      "score", org.apache.spark.sql.types.DoubleType,
      defaultValue = Some(0.5)))
    // batch WITHOUT the appended column: write-path alignment fills default
    Lake.upsert(spark, root, fg2, Seq((3L, "c")).toDF("id", "v"))
    // batch WITH the column
    Lake.upsert(spark, root, fg2,
      Seq((4L, "d", 9.0)).toDF("id", "v", "score"))
    val snap = Lake.snapshot(spark, root, fg2, None).orderBy("id")
    // the appended column must not be dropped (mergeSchema read)
    assert(snap.columns.toSeq === Seq("id", "v", "score"))
    val rows = snap.collect()
    assert(rows.length === 4)
    // rows predating the column read back its declared DEFAULT (the
    // merged-schema scan surfaces them as null; the aligned read fills) —
    // the appendFeatures contract (feature_group.py:853)
    assert(rows(0).getDouble(2) === 0.5 && rows(1).getDouble(2) === 0.5)
    assert(rows(2).getDouble(2) === 0.5) // default filled at write time
    assert(rows(3).getDouble(2) === 9.0)
  }

  test("commit retention bounds the timeline; pre-horizon reads fail fast") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tret",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((1L, "v2")).toDF("id", "v"))
    fs.insert(fg, Seq((2L, "w1")).toDF("id", "v"))
    fs.insert(fg, Seq((1L, "v3")).toDF("id", "v"))
    val before = Lake.listCommits(spark, root)
    assert(before.length === 4)

    val retained = Lake.cleanCommits(spark, root, fg, keepLast = 2)
    // oldest two commits squashed into a base at before(1)
    assert(retained === before.drop(1))
    assert(Lake.commitHorizon(spark, root) === Some(before(1)))

    // latest state unchanged by retention
    val snap = Lake.snapshot(spark, root, fg, None).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snap.toSeq === Seq((1L, "v3"), (2L, "w1")))

    // as-of AT the horizon resolves from the squashed base
    val atH = Lake.snapshot(spark, root, fg, Some(before(1)))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(atH.toSeq === Seq((1L, "v2")))

    // time travel BEFORE the horizon errors clearly
    val e = intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, Some(before.head)).collect()
    }
    assert(e.getMessage.contains("horizon"))
    intercept[IllegalArgumentException] {
      Lake.readChanges(spark, root, fg, before.head, before.last).collect()
    }

    // nothing further to clean → unchanged
    assert(Lake.cleanCommits(spark, root, fg, 5) === retained)
  }

  test("compaction preserves the snapshot") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("t4",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    fs.insert(fg, Seq((1L, "a2")).toDF("id", "v"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val before = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().toSeq
    Lake.compact(spark, root, fg)
    val after = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().toSeq
    assert(before === after)
    assert(Lake.listCommits(spark, root).size === 1)
  }

  // ------------------------------------------------------------------
  // Commit protocol: crash points and concurrent writers.
  // ------------------------------------------------------------------

  private val schemaFg = graft.model.FeatureGroup("w", primaryKey = Seq("id"),
    features = Seq(
      graft.model.Feature("id", org.apache.spark.sql.types.LongType, primary = true),
      graft.model.Feature("v", org.apache.spark.sql.types.StringType)))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Everything a reader can observe: latest rows, the timeline, the
    * commit log, and every as-of read along the timeline.
    */
  private def observed(root: String) = {
    val listed = Lake.listCommits(spark, root)
    (rowsOf(Lake.snapshot(spark, root, schemaFg, None)), listed,
      Lake.commitDetails(spark, root).collect().map(_.toSeq).toSeq,
      listed.map(t => rowsOf(Lake.snapshot(spark, root, schemaFg, Some(t)))))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Run `op` on a four-commit table and rebuild the two states a crash
    * leaves: its data staged but the version not published (the before
    * table plus the new `_tx` directories), and the version published
    * but the directories it removed not yet deleted (before ∪ after).
    * Each must read exactly as the table before, resp. after, the op.
    */
  private def crashPoints(op: String => Unit): Unit = {
    val base = Files.createTempDirectory("graft_lake_crash")
    val root = base.resolve("t")
    Lake.create(spark, root.toString, schemaFg, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Lake.upsert(spark, root.toString, schemaFg, Seq((1L, "a2"), (3L, "c")).toDF("id", "v"))
    Lake.delete(spark, root.toString, schemaFg, Seq(2L).toDF("id"))
    Lake.upsert(spark, root.toString, schemaFg, Seq((4L, "d")).toDF("id", "v"))
    val before = base.resolve("before")
    copyTree(root, before)
    val want = (observed(before.toString), {
      op(root.toString); observed(root.toString)
    })
    assert(want._1 !== want._2)
    def dirs(p: java.nio.file.Path) = p.resolve("data").toFile.list().toSet
    val staged = base.resolve("staged")
    copyTree(before, staged)
    (dirs(root) -- dirs(before)).foreach(d =>
      copyTree(root.resolve("data").resolve(d), staged.resolve("data").resolve(d)))
    val published = base.resolve("published")
    copyTree(before, published)
    copyTree(root, published)
    assert(observed(staged.toString) === want._1, "staged, not published")
    assert(observed(published.toString) === want._2, "published, not cleaned up")
    // the orphaned staging stays invisible to later commits too
    Lake.upsert(spark, staged.toString, schemaFg, Seq((9L, "z")).toDF("id", "v"))
    assert(rowsOf(Lake.snapshot(spark, staged.toString, schemaFg, None)) ===
      want._1._1 + (9L -> "z"))
  }

  test("crash points: upsert") {
    crashPoints(r => Lake.upsert(spark, r, schemaFg, Seq((1L, "a3"), (5L, "e")).toDF("id", "v")))
  }

  test("crash points: delete") {
    crashPoints(r => Lake.delete(spark, r, schemaFg, Seq(1L, 3L).toDF("id")))
  }

  test("crash points: compact") {
    crashPoints(r => Lake.compact(spark, r, schemaFg))
  }

  test("crash points: cleanCommits") {
    crashPoints(r => Lake.cleanCommits(spark, r, schemaFg, keepLast = 2))
  }

  private def dataDirs(root: String): Set[String] =
    new java.io.File(s"$root/data").list().toSet

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("crashed cleanCommits: reads fail fast; re-run replays the clean") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tcrash",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((1L, "v2")).toDF("id", "v"))
    fs.insert(fg, Seq((2L, "w1")).toDF("id", "v"))
    fs.insert(fg, Seq((1L, "v3")).toDF("id", "v"))
    val commits = Lake.listCommits(spark, root)
    val baseT = commits(1)

    // crash PAST the commit point: the clean's version is published, the
    // directories it removed are not yet deleted
    val before = Files.createTempDirectory("graft_lake_pre_clean").resolve("t")
    copyTree(java.nio.file.Paths.get(root), before)
    assert(Lake.cleanCommits(spark, root, fg, keepLast = 2) === commits.drop(1))
    val removed = dataDirs(before.toString) -- dataDirs(root)
    assert(removed.nonEmpty)
    removed.foreach(d => copyTree(before.resolve("data").resolve(d),
      java.nio.file.Paths.get(root, "data", d)))

    // reads before the horizon fail fast; the leftovers stay invisible
    val e = intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, Some(commits.head))
    }
    assert(e.getMessage.contains(s"horizon $baseT"))
    intercept[IllegalArgumentException] {
      Lake.readChanges(spark, root, fg, commits.head, commits.last)
    }
    assert(Lake.listCommits(spark, root) === commits.drop(1))
    assert(rows(Lake.snapshot(spark, root, fg, None)) === Seq((1L, "v3"), (2L, "w1")))
    assert(rows(Lake.snapshot(spark, root, fg, Some(baseT))) === Seq((1L, "v2")))

    // re-running the clean replays it on the published log, not on the
    // leftovers: same timeline, horizon and reads
    assert(Lake.cleanCommits(spark, root, fg, keepLast = 2) === commits.drop(1))
    assert(Lake.commitHorizon(spark, root) === Some(baseT))
    assert(rows(Lake.snapshot(spark, root, fg, None)) === Seq((1L, "v3"), (2L, "w1")))
    assert(rows(Lake.snapshot(spark, root, fg, Some(baseT))) === Seq((1L, "v2")))
    assert(rows(Lake.readChanges(spark, root, fg, baseT, commits.last)) ===
      Seq((1L, "v3"), (2L, "w1")))
    intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, Some(commits.head))
    }
  }

  test("crashed cleanCommits BEFORE its marker: orphan tmp is discarded") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tcrash2",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((2L, "w1")).toDF("id", "v"))
    val commits = Lake.listCommits(spark, root)

    // crash BEFORE the commit point: the squashed base is staged under
    // data/, its version never published
    val other = Files.createTempDirectory("graft_lake_orphan").resolve("t")
    copyTree(java.nio.file.Paths.get(root), other)
    Lake.cleanCommits(spark, other.toString, fg, keepLast = 1)
    val orphan = dataDirs(other.toString) -- dataDirs(root)
    assert(orphan.nonEmpty)
    orphan.foreach(d => copyTree(other.resolve("data").resolve(d),
      java.nio.file.Paths.get(root, "data", d)))

    // reads and the timeline discard the orphan
    assert(Lake.listCommits(spark, root) === commits)
    assert(rows(Lake.snapshot(spark, root, fg, None)) === Seq((1L, "v1"), (2L, "w1")))
    assert(rows(Lake.snapshot(spark, root, fg, Some(commits.head))) === Seq((1L, "v1")))
    // nothing to retain (keepLast covers all): the clean publishes nothing
    assert(Lake.cleanCommits(spark, root, fg, keepLast = 5) === commits)
    assert(Lake.commitDetails(spark, root).count() === commits.size)
    // a clean that does run ignores the orphan as well
    assert(Lake.cleanCommits(spark, root, fg, keepLast = 1) === commits)
    assert(rows(Lake.snapshot(spark, root, fg, None)) === Seq((1L, "v1"), (2L, "w1")))
    assert(rows(Lake.snapshot(spark, root, fg, Some(commits.head))) === Seq((1L, "v1")))
  }

  /** Replay `commits` (time, payload, meta) serially in time order from
    * `init` and check each commit's counts, the final snapshot and every
    * as-of read against the model; also that versions and times agree.
    */
  private def assertSerial(root: String, init: Map[Long, String],
                           commits: Seq[(Map[Long, String], Lake.CommitMeta)]): Unit = {
    val times = graft.sources.DeltaLite.versions(spark, root)
      .map(v => graft.sources.DeltaLite.commitInfo(spark, root, v).get.get("commitTime").asLong)
    assert(times.zip(times.tail).forall { case (a, b) => a < b },
      s"times must rise strictly with version: $times")
    assert(times.tail.sorted === commits.map(_._2.commitTime).sorted,
      "every commit owns its own version")
    var model = init
    commits.sortBy(_._2.commitTime).foreach { case (rows, meta) =>
      val upd = rows.keySet.count(model.contains).toLong
      assert((meta.rowsInserted, meta.rowsUpdated) === ((rows.size - upd, upd)),
        s"counts of commit ${meta.commitTime}")
      model ++= rows
      assert(rowsOf(Lake.snapshot(spark, root, schemaFg, Some(meta.commitTime))) === model)
    }
    assert(rowsOf(Lake.snapshot(spark, root, schemaFg, None)) === model)
    assert(Lake.listCommits(spark, root) === times)
  }

  private def concurrentUpserts(root: String, writers: Int, keys: Int => Seq[Long])
      : Seq[(Map[Long, String], Lake.CommitMeta)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (1 to writers).map { w =>
        val rows = keys(w).map(_ -> s"w$w").toMap
        pool.submit(new java.util.concurrent.Callable[(Map[Long, String], Lake.CommitMeta)] {
          def call() = {
            start.await()
            rows -> Lake.upsert(spark, root, schemaFg, rows.toSeq.toDF("id", "v"))
          }
        })
      }
      start.countDown()
      futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("concurrent upserts (threads) equal applying the commits serially in log order") {
    val root = Files.createTempDirectory("graft_lake_mt").toString + "/t"
    Lake.create(spark, root, schemaFg, Seq((0L, "init"), (1L, "init")).toDF("id", "v"))
    // overlapping keys: each writer updates its neighbour's key
    val commits = concurrentUpserts(root, 4, w => Seq(w.toLong, w + 1L, 100L + w))
    assertSerial(root, Map(0L -> "init", 1L -> "init"), commits)
  }

  test("same millisecond: concurrent commits stay distinct") {
    // every writer starts together, so most commit within the same
    // millisecond; each still gets its own commit and its own time
    val root = Files.createTempDirectory("graft_lake_ms").toString + "/t"
    Lake.create(spark, root, schemaFg, Seq((0L, "init")).toDF("id", "v"))
    val commits = concurrentUpserts(root, 8, w => Seq(w.toLong))
    assert(commits.map(_._2.commitTime).distinct.size === 8)
    assert(Lake.listCommits(spark, root).size === 9)
    assert(Lake.commitDetails(spark, root).count() === 9)
    assert(rowsOf(Lake.snapshot(spark, root, schemaFg, None)).keySet === (0L to 8L).toSet)
  }

  test("a delete and a compaction racing upserts rebase on the head: " +
    "the result equals applying the commits serially in log order") {
    val root = Files.createTempDirectory("graft_lake_mix").toString + "/t"
    val init = (0L to 5L).map(_ -> "init").toMap
    Lake.create(spark, root, schemaFg, init.toSeq.toDF("id", "v"))
    // each op: its change to the model (None = delete) and its commit
    val ops: Seq[() => (Option[Map[Long, Option[String]]], Lake.CommitMeta)] = Seq(
      () => { val r = Map(1L -> "u1", 6L -> "u1")
        Some(r.map { case (k, v) => k -> Some(v) }) ->
          Lake.upsert(spark, root, schemaFg, r.toSeq.toDF("id", "v")) },
      () => { val r = Map(2L -> "u2", 7L -> "u2")
        Some(r.map { case (k, v) => k -> Some(v) }) ->
          Lake.upsert(spark, root, schemaFg, r.toSeq.toDF("id", "v")) },
      () => Some(Map(1L -> None, 2L -> None, 3L -> None)) ->
        Lake.delete(spark, root, schemaFg, Seq(1L, 2L, 3L).toDF("id")),
      () => None -> Lake.compact(spark, root, schemaFg))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    val done = try {
      val fs = ops.map(op => pool.submit(
        new java.util.concurrent.Callable[(Option[Map[Long, Option[String]]], Lake.CommitMeta)] {
          def call() = { start.await(); op() }
        }))
      start.countDown()
      fs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()

    var model = init
    val history = done.sortBy(_._2.commitTime).map {
      case (Some(change), meta) if meta.operation == "delete" =>
        assert(meta.rowsDeleted === change.keys.count(model.contains))
        model --= change.keys
        meta.commitTime -> model
      case (Some(change), meta) =>
        val upd = change.keys.count(model.contains).toLong
        assert((meta.rowsInserted, meta.rowsUpdated) === ((change.size - upd, upd)))
        model ++= change.collect { case (k, Some(v)) => k -> v }
        meta.commitTime -> model
      case (None, meta) =>
        assert(meta.rowsInserted === model.size, "the base holds the head's state")
        meta.commitTime -> model
    }
    assert(rowsOf(Lake.snapshot(spark, root, schemaFg, None)) === model)
    val horizon = done.collectFirst { case (None, m) => m.commitTime }.get
    assert(Lake.commitHorizon(spark, root) === Some(horizon))
    history.foreach { case (t, m) =>
      if (t >= horizon) assert(rowsOf(Lake.snapshot(spark, root, schemaFg, Some(t))) === m)
      else intercept[IllegalArgumentException](Lake.snapshot(spark, root, schemaFg, Some(t)))
    }
  }

  test("concurrent upserts from two writer PROCESSES equal applying the commits serially") {
    val root = Files.createTempDirectory("graft_lake_mp").toString + "/t"
    Lake.create(spark, root, schemaFg, Seq((0L, "init")).toDF("id", "v"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val procs = Seq("1", "2").map { w =>
      val cmd = Seq(javaBin, "-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.LakeWriter", root, w, "3")
      new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    }
    // drain each child on its own thread so a full pipe never stalls it
    val outs = procs.map { p =>
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val th = new Thread(() => {
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
        Iterator.continually(br.readLine()).takeWhile(_ != null).foreach(buf.add)
      })
      th.setDaemon(true); th.start()
      (p, buf, th)
    }.map { case (p, buf, th) =>
      val rc = p.waitFor(); th.join(10000)
      val lines = buf.toArray.map(_.toString).toSeq
      assert(rc == 0, lines.takeRight(25).mkString("\n"))
      lines
    }
    val commits = outs.flatMap(_.filter(_.startsWith(LakeWriter.Marker))).map { l =>
      val Array(_, w, keys, t, ins, upd) = l.split(" ")
      keys.split(",").map(k => k.toLong -> w).toMap ->
        Lake.CommitMeta(t.toLong, "upsert", ins.toLong, upd.toLong, 0L)
    }
    assert(commits.size === 6)
    assertSerial(root, Map(0L -> "init"), commits)
  }
}

/** Child writer for LakeSpec's two-process race: `root writerId n` runs
  * n upserts into `root`; upsert i writes keys (i, writerId·100 + i) with
  * value `w<writerId>`, so the two writers overlap on every i. Prints one
  * marker line per commit: writer, keys, commit time and counts.
  */
object LakeWriter {
  val Marker = "GRAFT_LAKE_UPSERT"

  def main(args: Array[String]): Unit = {
    val Array(root, w, n) = args
    val spark = graft.SparkSessions.local("2", s"graft-lake-w$w")
    import spark.implicits._
    val fg = graft.model.FeatureGroup("w", primaryKey = Seq("id"),
      features = Seq(
        graft.model.Feature("id", org.apache.spark.sql.types.LongType, primary = true),
        graft.model.Feature("v", org.apache.spark.sql.types.StringType)))
    (1 to n.toInt).foreach { i =>
      val keys = Seq(i.toLong, w.toLong * 100 + i)
      val m = Lake.upsert(spark, root, fg, keys.map(_ -> s"w$w").toDF("id", "v"))
      println(s"$Marker w$w ${keys.mkString(",")} ${m.commitTime} ${m.rowsInserted} ${m.rowsUpdated}")
    }
    spark.stop()
    sys.exit(0)
  }
}
