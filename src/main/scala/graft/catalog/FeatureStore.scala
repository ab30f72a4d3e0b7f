package graft.catalog

import graft.ir.Query
import graft.model._
import graft.planner.QueryPlanner
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-process feature-store catalog: named, versioned feature groups backed
  * by parquet paths, lake tables, views, or caller DataFrames. Replaces the
  * reference's REST-backed metadata service (python/hsfs/feature_store.py)
  * with a local registry; `warehouseDir` is the root for lake-backed groups.
  *
  * Definitions PERSIST: every registered group (except ephemeral
  * DataFrame-backed spines) is published as a JSON document under
  * `warehouseDir/_catalog/` through the [[DocumentStore]] and reloaded on
  * construction, so a new session over the same warehouse sees every
  * group — the durability the reference gets from its server-side
  * metadata (python/hsfs/feature_store.py).
  */
final class FeatureStore(
    val spark: SparkSession,
    val name: String = "graft",
    /** Warehouse root. Construction LOADS every persisted definition under
      * `<warehouseDir>/_catalog` — point it only at directories you trust.
      * The default is per-user (a shared world-writable default would leak
      * definitions across users and let another local user plant catalog
      * JSON that this session would auto-materialize).
      */
    val warehouseDir: String =
      s"${System.getProperty("user.home")}/.graft/warehouse",
    /** When true, every lake creation/insert through this store also runs
      * [[computeStatistics]] for groups whose config enables statistics —
      * the reference's on-ingestion statistics pass
      * (engine/spark.py save paths → core/statistics_engine.py). Opt-in
      * here (like serving materialization): an extra aggregation scan per
      * ingest is a cost the caller should choose, not inherit.
      */
    val autoComputeStatistics: Boolean = false
) {
  private val registry =
    scala.collection.concurrent.TrieMap.empty[(String, Int), FeatureGroup]

  // the engine's SQL functions (vec_*, graft_*) are part of the store's
  // SQL surface: register them so `fs.sql` resolves them out of the box
  graft.GraftExtensions.register(spark)

  private val docs = new DocumentStore(spark, warehouseDir)

  CatalogPersistence.load(docs).foreach { fg =>
    registry.put((fg.name, fg.version), fg)
  }

  def register(fg: FeatureGroup): FeatureGroup = {
    registry.put((fg.name, fg.version), fg)
    CatalogPersistence.save(docs, fg)
    fg
  }

  def getFeatureGroup(name: String, version: Int = 1): FeatureGroup =
    registry.getOrElse((name, version),
      throw new NoSuchElementException(s"feature group $name v$version"))

  /** Append features to a registered group's declared schema — the ALTER
    * TABLE ADD COLUMNS analog (feature_group.py append_features,
    * engine/spark.py save_empty_dataframe): no data rewrite. Committed
    * rows predate the new columns and read back as each feature's
    * `defaultValue` (null when none) via the aligned lake read; inserts
    * from now on carry them. Returns the updated, persisted definition.
    */
  def appendFeatures(fg: FeatureGroup, newFeatures: Seq[Feature]): FeatureGroup = {
    val clash = newFeatures.map(_.name).intersect(fg.featureNames)
    require(clash.isEmpty,
      s"features already declared: ${clash.mkString(", ")}")
    register(fg.copy(features = fg.features ++ newFeatures))
  }

  def featureGroups: Seq[FeatureGroup] = registry.values.toSeq

  /** Every registered version of a named group, ascending
    * (feature_store.py:168-207 get_feature_groups).
    */
  def getFeatureGroups(name: String): Seq[FeatureGroup] =
    registry.collect { case ((n, _), fg) if n == name => fg }
      .toSeq.sortBy(_.version)

  /** Get the group if registered, otherwise create it from `df`
    * (feature_store.py:644-799 get_or_create_feature_group).
    */
  def getOrCreateFeatureGroup(
      name: String,
      df: => DataFrame,
      primaryKey: Seq[String],
      partitionKey: Seq[String] = Nil,
      eventTime: Option[String] = None,
      precombineKey: Option[String] = None,
      version: Int = 1): FeatureGroup =
    registry.getOrElse((name, version),
      createFeatureGroup(name, df, primaryKey, partitionKey, eventTime,
        precombineKey, version))

  /** Create a lake-backed (time-travel, upsertable) feature group from an
    * initial DataFrame — the analog of fg.insert on a new group
    * (python/hsfs/engine/spark.py:349-396 offline branch).
    */
  def createFeatureGroup(
      name: String,
      df: DataFrame,
      primaryKey: Seq[String],
      partitionKey: Seq[String] = Nil,
      eventTime: Option[String] = None,
      precombineKey: Option[String] = None,
      version: Int = 1,
      statisticsConfig: StatisticsConfig = StatisticsConfig()): FeatureGroup = {
    val root = s"$warehouseDir/${name}_$version"
    val fg = FeatureGroup(
      name = name,
      version = version,
      features = df.schema.fields.toSeq.map(f =>
        Feature(f.name, f.dataType, primaryKey.contains(f.name),
          partitionKey.contains(f.name), f.nullable)),
      primaryKey = primaryKey,
      partitionKey = partitionKey,
      eventTime = eventTime,
      precombineKey = precombineKey,
      source = LakeSource(root),
      statisticsConfig = statisticsConfig)
    Lake.create(spark, root, fg, df)
    val registered = register(fg)
    if (autoComputeStatistics && fg.statisticsConfig.enabled)
      computeStatistics(registered, nextStatsStamp(registered))
    registered
  }

  /** Register an external (connector-backed) feature group as a
    * first-class, PERSISTED catalog entity — the analog of the reference's
    * ExternalFeatureGroup (core/external_feature_group_engine.py,
    * engine/spark.py:195-209). The connector's full option set (including
    * any pushdown `query`) round-trips through the catalog, so a new
    * session over the same warehouse resolves and plans it identically.
    *
    * Schema comes from `features` when declared (network sources may be
    * unreachable at registration time); otherwise it is inferred with one
    * read of the source.
    */
  def createExternalFeatureGroup(
      name: String,
      connector: graft.sources.Connectors.Connector,
      primaryKey: Seq[String] = Nil,
      eventTime: Option[String] = None,
      path: Option[String] = None,
      features: Seq[Feature] = Nil,
      version: Int = 1): FeatureGroup = {
    val src = graft.sources.Connectors.source(connector, path)
    val feats =
      if (features.nonEmpty) features
      else QueryPlanner.materialize(spark, FeatureGroup(name, source = src),
          None)
        .schema.fields.toSeq.map(f =>
          Feature(f.name, f.dataType, primaryKey.contains(f.name),
            partition = false, f.nullable))
    register(FeatureGroup(
      name = name,
      version = version,
      features = feats,
      primaryKey = primaryKey,
      eventTime = eventTime,
      source = src))
  }

  // -- expectation suites (persisted; validated on insert) ------------------

  /** Attach a persisted expectation suite to a feature group; every
    * subsequent [[insert]] validates against it, honoring the suite's
    * ingestion policy (STRICT rejects failing batches, ALWAYS lets them
    * through) — reference expectation_suite.py +
    * validation_ingestion_policy semantics.
    */
  def saveExpectationSuite(fg: FeatureGroup,
                           suite: graft.ops.Validation.SuiteDef): Unit =
    SuitePersistence.save(docs, fg.id, suite)

  def getExpectationSuite(fg: FeatureGroup): Option[graft.ops.Validation.SuiteDef] =
    SuitePersistence.load(docs, fg.id)

  def deleteExpectationSuite(fg: FeatureGroup): Unit =
    SuitePersistence.delete(docs, fg.id)

  // -- validation report history -------------------------------------------

  private def reportDir(fg: FeatureGroup) =
    s"$warehouseDir/_validation_reports/${fg.id}"

  /** Append a validation run to the group's persisted report history —
    * the reference's save_validation_report / get_validation_history
    * surface (feature_group.py, core/validation_report_engine.py): one
    * row per expectation result, stamped with the run time, plain
    * append-mode parquet so history reads are a partition-pruned scan.
    */
  def saveValidationReport(fg: FeatureGroup,
                           report: graft.ops.Validation.ValidationReport,
                           /** < 0 → auto: wallclock bumped past the newest
                             * persisted run, so two rapid validations can
                             * never merge into one "latest" report.
                             */
                           atMillis: Long = -1L): Unit = {
    import spark.implicits._
    val stamp = if (atMillis >= 0) atMillis else nextReportStamp(fg)
    noteStamp(s"report:${fg.id}", stamp)
    report.results
      .map(r => (stamp, report.success, r.name, r.success,
        r.unexpectedCount, r.observedRows))
      .toDF("run_millis", "run_success", "expectation", "success",
        "unexpected_count", "observed_rows")
      .write.mode("append").parquet(reportDir(fg))
  }

  /** Full persisted history, newest first (empty frame if none). */
  def getValidationHistory(fg: FeatureGroup): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(reportDir(fg))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq()))
    else spark.read.parquet(reportDir(fg))
      .orderBy(org.apache.spark.sql.functions.col("run_millis").desc)
  }

  /** Latest run reconstructed as a ValidationReport (None if no history). */
  def getLatestValidationReport(fg: FeatureGroup)
      : Option[graft.ops.Validation.ValidationReport] = {
    val hist = getValidationHistory(fg)
    if (hist.schema.isEmpty) None
    else {
      val rows = hist.collect()
      if (rows.isEmpty) None
      else {
        val latest = rows.map(_.getLong(0)).max
        val ofRun = rows.filter(_.getLong(0) == latest)
        Some(graft.ops.Validation.ValidationReport(
          ofRun.head.getBoolean(1),
          ofRun.toSeq.map(r => graft.ops.Validation.ExpectationResult(
            r.getString(2), r.getBoolean(3), r.getLong(4), r.getLong(5)))))
      }
    }
  }

  /** Run the group's PERSISTED suite against `df`, append the report to
    * the history, and return it (feature_group.py validate()).
    */
  def validate(fg: FeatureGroup, df: DataFrame,
               atMillis: Long = -1L)
      : graft.ops.Validation.ValidationReport = {
    val suite = getExpectationSuite(fg).getOrElse(
      throw new NoSuchElementException(
        s"no expectation suite for ${fg.name} v${fg.version}"))
    val report = graft.ops.Validation.validate(df, suite.expectations)
    saveValidationReport(fg, report, atMillis)
    report
  }

  // -- feature-group statistics engine ---------------------------------------

  private def fgStatsDir(fg: FeatureGroup) =
    s"$warehouseDir/_fg_statistics/${fg.id}"

  private val fgStatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("computed_at",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("feature",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("metric",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def emptyFgStats: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fgStatsSchema)

  /** Compute the group's CONFIGURED statistics over its offline state —
    * optionally as of a commit time for lake-backed groups — and append
    * them to the persisted statistics history, stamped `computed_at =
    * atMillis`. The analog of `fg.compute_statistics()` gated by
    * `statistics_config` (python/hsfs/feature_group.py:3253,
    * statistics_config.py:24-100, core/statistics_engine.py): descriptive
    * profile always; correlations / histograms / exact uniqueness opt-in;
    * `columns` restricts the set. Long format, one row per (feature,
    * metric): profile metrics carry profileDf's names and rounding;
    * histogram buckets are `hist:<value>` → count; correlations are
    * `corr:<other>` on the row of the pair's first feature. Disabled
    * config → nothing computed or persisted, empty frame returned.
    */
  def computeStatistics(fg: FeatureGroup,
                        atMillis: Long = System.currentTimeMillis(),
                        asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val cfg = fg.statisticsConfig
    if (!cfg.enabled) return emptyFgStats
    val raw = QueryPlanner.materialize(spark, fg,
      asOf.map(t => graft.ir.TimeTravel(Some(t))))
    val cols =
      if (cfg.columns.nonEmpty) cfg.columns else raw.columns.toSeq
    val numericCols = cols.filter(c => raw.schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType])
    // the opt-in metric families each take their own pass (priced so by
    // design — see below); when more than one pass is configured, cache
    // the COLUMN-PRUNED projection so the lake read happens once, not
    // once per pass. The cached frame is |rows| × |requested stats
    // columns| — pruned, not the full group — the same working-set
    // shape any multi-pass profiler pins at scale.
    val passes = 1 + (if (cfg.exactUniqueness) cols.size else 0) +
      (if (cfg.histograms) cols.size else 0) +
      (if (cfg.correlations && numericCols.size >= 2) 1 else 0)
    val frame = {
      val pruned = raw.select(cols.map(col(_)): _*)
      if (passes > 1) pruned.cache() else pruned
    }

    // descriptive profile: ONE aggregation pass over all requested columns
    val profile = graft.ops.Statistics.profileDf(frame, cols)
      .selectExpr("feature",
        """stack(6,
             'cnt', CAST(cnt AS DOUBLE), 'nulls', CAST(nulls AS DOUBLE),
             'min_v', min_v, 'max_v', max_v,
             'mean_v', mean_v, 'stddev_v', stddev_v) AS (metric, value)""")

    // opt-in passes (each is a per-column groupBy — priced accordingly,
    // which is exactly why the reference defaults them off)
    val uniq = if (!cfg.exactUniqueness) Seq.empty else cols.map { c =>
      graft.ops.Statistics.frequencyMetrics(frame, c)
        .selectExpr(s"'$c' AS feature",
          """stack(4, 'entropy', CAST(entropy AS DOUBLE),
               'distinctness', CAST(distinctness AS DOUBLE),
               'uniqueness', CAST(uniqueness AS DOUBLE),
               'exact_distinct', CAST(exact_distinct AS DOUBLE))
             AS (metric, value)""")
    }
    val hists = if (!cfg.histograms) Seq.empty else cols.map { c =>
      graft.ops.Statistics.histogram(frame, c)
        .select(lit(c).as("feature"),
          concat(lit("hist:"), col("value")).as("metric"),
          col("cnt").cast("double").as("value"))
    }
    val corrs =
      if (!cfg.correlations || numericCols.size < 2) Seq.empty
      else Seq(graft.ops.Statistics.correlationMatrix(frame, numericCols)
        .select(col("feature_a").as("feature"),
          concat(lit("corr:"), col("feature_b")).as("metric"),
          col("corr_v").as("value")))

    val batch = (Seq(profile) ++ uniq ++ hists ++ corrs)
      .reduce(_ unionByName _)
      .select(lit(atMillis).as("computed_at"), col("feature"),
        col("metric"), col("value"))
    noteStamp(s"stats:${fg.id}", atMillis)
    // one file per run: the batch is |features × metrics| rows (tiny) and
    // the history is re-read on every retrieval — don't shard it
    batch.coalesce(1).write.mode("append").parquet(fgStatsDir(fg))
    if (passes > 1) frame.unpersist()
    spark.read.schema(fgStatsSchema).parquet(fgStatsDir(fg))
      .filter(col("computed_at") === atMillis)
  }

  /** Last issued run stamp per (kind, group): the persisted history is
    * consulted ONCE per store instance — per-ingest stamping must not
    * rescan a history that grows with every ingest (O(n²) cumulative I/O
    * on the hot path).
    */
  private val stampCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Serializes stamp issuance: a get-then-put on the TrieMap is not
    * atomic, and two concurrent auto-stamped runs reading the same last
    * value would issue identical stamps — merging two runs into one
    * logical "latest", exactly what the monotonic bump exists to prevent.
    */
  private val stampLock = new Object

  private def bumpStamp(key: String, historyMax: => Option[Long]): Long = {
    // The history scan may run a Spark job — evaluate it outside the lock,
    // and only when the cache has never been primed for this key. A stale
    // value is harmless: issuance below re-reads the cache under the lock,
    // so a concurrent bump always wins over the history snapshot.
    val hist = if (stampCache.contains(key)) None else historyMax
    stampLock.synchronized {
      val now = System.currentTimeMillis()
      val last = stampCache.get(key).orElse(hist)
      val stamp = last.map(l => math.max(now, l + 1)).getOrElse(now)
      stampCache.put(key, stamp)
      stamp
    }
  }

  /** Record an explicitly-chosen stamp so later default-stamped runs stay
    * monotonic past it.
    */
  private def noteStamp(key: String, stamp: Long): Unit =
    stampLock.synchronized {
      stampCache.put(key, math.max(stampCache.getOrElse(key, 0L), stamp))
    }

  /** Wallclock stamp, bumped past the newest run so two ingests inside
    * one millisecond never merge into one logical run.
    */
  private def nextStatsStamp(fg: FeatureGroup): Long =
    bumpStamp(s"stats:${fg.id}", {
      import org.apache.spark.sql.functions.max
      val hist = getAllStatistics(fg)
      if (hist.isEmpty) None
      else Some(hist.agg(max("computed_at")).head.getLong(0))
    })

  /** Same monotonic-bump contract for validation-report run stamps. */
  private def nextReportStamp(fg: FeatureGroup): Long =
    bumpStamp(s"report:${fg.id}", {
      import org.apache.spark.sql.functions.max
      val hist = getValidationHistory(fg)
      if (hist.schema.isEmpty || hist.isEmpty) None
      else Some(hist.agg(max("run_millis")).head.getLong(0))
    })

  /** Statistics computed at the LATEST run ≤ `computationTime` (or the
    * most recent run when None), optionally restricted to some features —
    * `fg.get_statistics` (python/hsfs/feature_group.py:1704-1739).
    * Empty frame if no matching run.
    */
  def getStatistics(fg: FeatureGroup,
                    computationTime: Option[Long] = None,
                    featureNames: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val hist = getAllStatistics(fg, computationTime)
    if (hist.isEmpty) emptyFgStats
    else {
      val latest = hist.agg(max("computed_at")).head.getLong(0)
      val run = hist.filter(col("computed_at") === latest)
      if (featureNames.isEmpty) run
      else run.filter(col("feature").isin(featureNames: _*))
    }
  }

  /** Full persisted statistics history at or before `before` —
    * `fg.get_all_statistics` (python/hsfs/feature_group.py:1741-1777).
    */
  def getAllStatistics(fg: FeatureGroup,
                       before: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(fgStatsDir(fg))
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) emptyFgStats
    else {
      // declared schema: the history's layout is fixed by this class, so
      // skip the footer-inference pass on every retrieval
      val all = spark.read.schema(fgStatsSchema).parquet(fgStatsDir(fg))
      before.map(t => all.filter(col("computed_at") <= t)).getOrElse(all)
    }
  }

  // -- feature views (persisted query IR) -----------------------------------

  /** Persist a feature view's full query IR + labels/helpers; its
    * transformations are stored by name (see [[ViewPersistence]]).
    */
  def saveFeatureView(view: graft.view.FeatureView): Unit =
    ViewPersistence.save(docs, view)

  /** Load a persisted view. Transformations resolve from the caller's
    * registry first, then from the PERSISTED builtin registry
    * ([[createTransformationFunction]]) — so a view whose transforms were
    * all registered as builtins round-trips with no caller setup at all.
    */
  def getFeatureView(name: String, version: Int = 1,
                     transformationRegistry:
                       Map[String, graft.ops.Transformations.Transformation]
                       = Map()): graft.view.FeatureView = {
    // ONE read of the view document; names missing from the caller's registry
    // resolve lazily from the persisted transformation store — never a
    // load of every registered transformation
    ViewPersistence.load(docs, name, version, transformationRegistry,
        resolve = n => TransformPersistence.load(docs, n)
          .map(_.toTransformation))
      .getOrElse(throw new NoSuchElementException(
        s"feature view $name v$version"))
  }

  def deleteFeatureView(name: String, version: Int = 1): Unit =
    ViewPersistence.delete(docs, name, version)

  /** Load the persisted view if present, else persist and return this one
    * (feature_view.py get_or_create_feature_view).
    */
  def getOrCreateFeatureView(
      view: graft.view.FeatureView,
      transformationRegistry:
        Map[String, graft.ops.Transformations.Transformation] = Map())
      : graft.view.FeatureView =
    try getFeatureView(view.name, view.version, transformationRegistry)
    catch { case _: NoSuchElementException =>
      saveFeatureView(view); view
    }

  // -- transformation functions (persisted builtin registry) ---------------

  /** Register a PERSISTED builtin transformation function — the analog of
    * the reference's create_transformation_function
    * (feature_store.py:1316-1356). Only the declarative builtins
    * ([[graft.ops.Transformations.Builtins]]) persist; lambdas are
    * session-scoped and resolve by name via getFeatureView's registry.
    */
  def createTransformationFunction(
      name: String, builtin: String, input: String,
      outName: Option[String] = None, dropInput: Boolean = false)
      : graft.ops.Transformations.Transformation = {
    val d = TransformPersistence.TransformDef(name, builtin, input,
      outName, dropInput)
    val t = d.toTransformation // validates the builtin kind up front
    TransformPersistence.save(docs, d)
    t
  }

  def getTransformationFunction(name: String)
      : graft.ops.Transformations.Transformation =
    TransformPersistence.load(docs, name)
      .map(_.toTransformation)
      .getOrElse(throw new NoSuchElementException(
        s"transformation function $name"))

  def transformationFunctions: Seq[String] =
    TransformPersistence.list(docs)

  def deleteTransformationFunction(name: String): Unit =
    TransformPersistence.delete(docs, name)

  /** Persist a training run's fitted transformation statistics for a
    * view; a serving session loads them to scale/encode online vectors
    * with the training distribution.
    */
  def saveTrainingStatistics(
      viewName: String, version: Int,
      stats: Map[String, graft.ops.Transformations.FeatureStatistics],
      trainingDatasetVersion: Option[Int] = None): Unit =
    StatsPersistence.save(docs, viewName, version, stats,
      trainingDatasetVersion)

  /** Fitted statistics to serve with — per training-dataset version when
    * given (the reference's `init_serving(training_dataset_version)`
    * contract), falling back to the view-level latest.
    */
  def getTrainingStatistics(viewName: String, version: Int = 1,
                            trainingDatasetVersion: Option[Int] = None)
      : Option[Map[String, graft.ops.Transformations.FeatureStatistics]] =
    trainingDatasetVersion
      .flatMap(td => StatsPersistence.load(docs, viewName, version, Some(td)))
      .orElse(StatsPersistence.load(docs, viewName, version, None))

  // -- training datasets (materialized, versioned) -------------------------

  /** Materialize + persist a training-dataset version for a view: build
    * (splits + train-split-fitted transformation statistics), write the
    * per-split files under the warehouse, persist the descriptor AND the
    * fitted statistics — a restarted session reads the exact artifact and
    * serves with the training distribution
    * (training_dataset.py + core/feature_view_engine.py:229-320).
    */
  def createTrainingDataset(
      view: graft.view.FeatureView, version: Int,
      randomWeights: Map[String, Double] = Map(),
      timeBounds: Map[String, (Long, Long)] = Map(),
      seed: Long = 42L, exactSizes: Boolean = false,
      format: String = "parquet", coalesce: Boolean = false,
      groupSplit: Option[graft.ops.Splits.GroupSplit] = None)
      : TrainingDatasetPersistence.TrainingDatasetMeta = {
    val res = graft.view.TrainingDataset.build(spark, view,
      view.batchQuery(spark), randomWeights, timeBounds, seed,
      exactSizes = exactSizes, groupSplit = groupSplit)
    val path =
      s"$warehouseDir/training_datasets/${view.name}_${view.version}/$version"
    graft.view.TrainingDataset.write(res, path, format, coalesce = coalesce)
    if (res.transformationStatistics.nonEmpty) {
      // per-td (serving can pin this dataset's distribution) AND the
      // view-level latest (the default serving path)
      saveTrainingStatistics(view.name, view.version,
        res.transformationStatistics, Some(version))
      saveTrainingStatistics(view.name, view.version,
        res.transformationStatistics)
    }
    val meta = TrainingDatasetPersistence.TrainingDatasetMeta(
      view.name, view.version, version, format, path,
      randomWeights, timeBounds, seed, exactSizes,
      createdMillis = System.currentTimeMillis(),
      groupSplit = groupSplit, coalesce = coalesce)
    TrainingDatasetPersistence.save(docs, meta)
    meta
  }

  def getTrainingDataset(viewName: String, viewVersion: Int = 1,
                         version: Int = 1)
      : TrainingDatasetPersistence.TrainingDatasetMeta =
    TrainingDatasetPersistence.load(docs, viewName, viewVersion, version)
      .getOrElse(throw new NoSuchElementException(
        s"training dataset $viewName v$viewVersion td$version"))

  /** Read back a materialized training-dataset version's splits from its
    * persisted descriptor (a single-split dataset lives at the path root,
    * multi-split ones in per-split subdirectories — TrainingDataset.write
    * layout).
    */
  def readTrainingDataset(viewName: String, viewVersion: Int = 1,
                          version: Int = 1): Map[String, DataFrame] = {
    val meta = getTrainingDataset(viewName, viewVersion, version)
    val names = meta.splitNames
    names.map { n =>
      val p = if (names.size == 1) meta.path else s"${meta.path}/$n"
      n -> graft.view.TrainingDataset.read(spark, p, meta.format)
    }.toMap
  }

  /** Rebuild a training-dataset version's FILES from its persisted
    * descriptor (feature_view.py:2043-2117 recreate_training_dataset):
    * the view IR, split spec (exact / time / grouped — all
    * deterministic), seed, and format all come from the catalog, so the
    * rematerialized artifact reproduces the original partition.
    */
  def recreateTrainingDataset(
      viewName: String, viewVersion: Int = 1, version: Int = 1,
      transformationRegistry:
        Map[String, graft.ops.Transformations.Transformation] = Map())
      : TrainingDatasetPersistence.TrainingDatasetMeta = {
    val meta = getTrainingDataset(viewName, viewVersion, version)
    val view = getFeatureView(viewName, viewVersion, transformationRegistry)
    val res = graft.view.TrainingDataset.build(spark, view,
      view.batchQuery(spark), meta.randomWeights, meta.timeBounds,
      meta.seed, exactSizes = meta.exactSizes, groupSplit = meta.groupSplit)
    graft.view.TrainingDataset.write(res, meta.path, meta.format,
      coalesce = meta.coalesce)
    // per-td only: rematerializing an OLD version must not clobber the
    // view-level "latest" another (newer) dataset established
    if (res.transformationStatistics.nonEmpty)
      saveTrainingStatistics(viewName, viewVersion,
        res.transformationStatistics, Some(version))
    val updated = meta.copy(createdMillis = System.currentTimeMillis())
    TrainingDatasetPersistence.save(docs, updated)
    updated
  }

  /** Persisted training-dataset versions of a view, ascending. */
  def trainingDatasets(viewName: String, viewVersion: Int = 1): Seq[Int] =
    TrainingDatasetPersistence.list(docs, viewName, viewVersion)

  /** Drop a version: descriptor + materialized files. */
  def deleteTrainingDataset(viewName: String, viewVersion: Int = 1,
                            version: Int = 1): Unit = {
    TrainingDatasetPersistence.load(docs, viewName, viewVersion, version)
        .foreach { meta =>
      val p = new org.apache.hadoop.fs.Path(meta.path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    TrainingDatasetPersistence.delete(docs, viewName, viewVersion, version)
  }

  // -- tags / keywords / provenance (persisted metadata surface) -----------

  private def entityId(fg: FeatureGroup) = s"fg_${fg.id}"
  private def entityId(viewName: String, version: Int) =
    s"view_${viewName}_$version"

  /** Attach a tag (string value; JSON-encode structured values) — the
    * analog of fg.add_tag (python/hsfs/feature_group.py tag APIs).
    */
  def addTag(fg: FeatureGroup, name: String, value: String): Unit = {
    val cur = TagPersistence.load(docs, entityId(fg))
    TagPersistence.save(docs, entityId(fg),
      cur.copy(tags = cur.tags + (name -> value)))
  }
  def getTags(fg: FeatureGroup): Map[String, String] =
    TagPersistence.load(docs, entityId(fg)).tags
  def deleteTag(fg: FeatureGroup, name: String): Unit = {
    val cur = TagPersistence.load(docs, entityId(fg))
    TagPersistence.save(docs, entityId(fg),
      cur.copy(tags = cur.tags - name))
  }
  def addKeywords(fg: FeatureGroup, kws: Seq[String]): Unit = {
    val cur = TagPersistence.load(docs, entityId(fg))
    TagPersistence.save(docs, entityId(fg),
      cur.copy(keywords = (cur.keywords ++ kws).distinct))
  }
  def getKeywords(fg: FeatureGroup): Seq[String] =
    TagPersistence.load(docs, entityId(fg)).keywords

  def addTag(view: graft.view.FeatureView, name: String, value: String): Unit = {
    val id = entityId(view.name, view.version)
    val cur = TagPersistence.load(docs, id)
    TagPersistence.save(docs, id,
      cur.copy(tags = cur.tags + (name -> value)))
  }
  def getTags(view: graft.view.FeatureView): Map[String, String] =
    TagPersistence.load(docs, entityId(view.name, view.version)).tags

  /** Registered groups carrying tag `name` (optionally a specific value). */
  def findGroupsByTag(name: String,
                      value: Option[String] = None): Seq[FeatureGroup] =
    featureGroups.filter { fg =>
      getTags(fg).get(name).exists(v => value.forall(_ == v))
    }.sortBy(fg => (fg.name, fg.version))

  def findGroupsByKeyword(kw: String): Seq[FeatureGroup] =
    featureGroups.filter(fg => getKeywords(fg).contains(kw))
      .sortBy(fg => (fg.name, fg.version))

  /** Upstream provenance of a view: every feature group its query touches
    * and the features drawn from each — derived from the query IR
    * (core/explicit_provenance.py Links analog).
    */
  def provenance(view: graft.view.FeatureView): Seq[Provenance.Link] =
    Provenance.links(view.query)

  /** Reverse provenance: persisted views whose query references the
    * group — scans the persisted IR without needing transformation
    * registries.
    */
  def dependentViews(fg: FeatureGroup): Seq[(String, Int)] =
    ViewPersistence.list(docs).filter { case (n, v) =>
      Provenance.referencedGroups(docs, n, v)
        .contains((fg.name, fg.version))
    }.sorted

  def insert(fg: FeatureGroup, df: DataFrame): Lake.CommitMeta = fg.source match {
    case LakeSource(root) =>
      val gated = getExpectationSuite(fg) match {
        case Some(s) if s.policy == graft.ops.Validation.Policy.Strict =>
          graft.ops.Validation.validateOrThrow(df, s.expectations)
        case Some(s) => // ALWAYS: validate (one extra scan), never block
          graft.ops.Validation.validate(df, s.expectations); df
        case None => df
      }
      val meta = Lake.upsert(spark, root, fg, gated)
      if (autoComputeStatistics && fg.statisticsConfig.enabled)
        computeStatistics(fg, nextStatsStamp(fg))
      meta
    case other => throw new IllegalArgumentException(
      s"insert requires a lake-backed group, got $other")
  }

  def delete(fg: FeatureGroup, keys: DataFrame): Lake.CommitMeta = fg.source match {
    case LakeSource(root) => Lake.delete(spark, root, fg, keys)
    case other => throw new IllegalArgumentException(
      s"delete requires a lake-backed group, got $other")
  }

  def read(q: Query): DataFrame = QueryPlanner.plan(spark, q)

  /** Register every feature group's current state as a temp view named
    * `<name>_<version>` and run raw SQL against them — the analog of the
    * reference's `USE <featurestore>; spark.sql(q)` entry
    * (python/hsfs/engine/spark.py:140-163).
    */
  def sql(query: String): DataFrame = {
    // best-effort per group: a reloaded catalog may reference sources that
    // no longer resolve (moved parquet, dropped view) — they must not block
    // SQL over the healthy groups. Failures are kept and attached if the
    // query then fails to resolve, so a bad path/credentials surfaces as
    // the root cause instead of TABLE_OR_VIEW_NOT_FOUND.
    val failures = featureGroups.flatMap { fg =>
      try {
        QueryPlanner.materialize(spark, fg, None)
          .createOrReplaceTempView(fg.id)
        None
      } catch {
        case scala.util.control.NonFatal(e) => Some(fg.id -> e)
      }
    }
    try spark.sql(query)
    catch {
      case e: org.apache.spark.sql.AnalysisException if failures.nonEmpty =>
        val detail = failures
          .map { case (id, c) => s"$id: ${c.getMessage}" }.mkString("; ")
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            (s"${e.getMessage}\n(note: ${failures.size} registered feature " +
              s"group(s) failed to materialize and were skipped — $detail)")),
          cause = Some(e))
    }
  }
}

/** Convenience registration of the driver's TPC-H-ish testdata directory as
  * feature groups with sensible keys/event-times (see TESTDATA.md).
  */
object TestTables {

  def parquet(dir: String, table: String): String = s"$dir/$table.parquet"

  /** Register every testdata table as a temp view named after the table. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val p = new java.io.File(parquet(dir, t))
      if (p.exists())
        spark.read.parquet(p.getPath).createOrReplaceTempView(t)
    }
  }

  private val keys: Map[String, (Seq[String], Option[String])] = Map(
    "region" -> (Seq("r_regionkey"), None),
    "nation" -> (Seq("n_nationkey"), None),
    "customer" -> (Seq("c_custkey"), None),
    "supplier" -> (Seq("s_suppkey"), None),
    "part" -> (Seq("p_partkey"), None),
    "orders" -> (Seq("o_orderkey"), Some("o_orderdate")),
    "lineitem" -> (Seq("l_orderkey", "l_linenumber"), Some("l_shipdate")),
    "events" -> (Seq("event_id"), Some("ts")),
    "documents" -> (Seq("doc_id"), None),
    "embeddings" -> (Seq("vec_id"), None)
  )

  /** Declare one testdata table as a feature group (lazy: reads only this
    * table's parquet footer).
    */
  def fg(spark: SparkSession, dir: String, table: String): FeatureGroup = {
    val (pk, et) = keys(table)
    FeatureGroup.fromParquet(spark, table, parquet(dir, table),
      primaryKey = pk, eventTime = et)
  }

  def featureGroups(spark: SparkSession, dir: String): Map[String, FeatureGroup] =
    keys.keys.map(t => t -> fg(spark, dir, t)).toMap
}
