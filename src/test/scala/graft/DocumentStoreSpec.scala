package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.catalog._
import graft.ops.Monitoring._
import graft.ops.Transformations.FeatureStatistics
import graft.ops.Validation._
import org.json4s._

import scala.jdk.CollectionConverters._

/** The catalog document store: atomic publish under a concurrent writer,
  * crash residue (a staged-but-unpublished document) ignored everywhere,
  * loud and attributed failures on an unreadable document, and a
  * warehouse written before the store existed loading unchanged.
  */
class DocumentStoreSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("put / get / ids / delete round trip; absent reads as None") {
    val docs = new DocumentStore(spark, tmp("graft_docs"))
    assert(docs.get("things", "a").isEmpty && docs.ids("things").isEmpty)
    docs.put("things", "b", JObject("v" -> JInt(2)))
    docs.put("things", "a", JObject("v" -> JInt(1)))
    docs.put("things", "a", JObject("v" -> JInt(3)))
    assert(docs.ids("things") == Seq("a", "b"))
    assert(docs.get("things", "a").contains(JObject("v" -> JInt(3))))
    docs.delete("things", "a")
    assert(docs.ids("things") == Seq("b") && docs.get("things", "a").isEmpty)
  }

  test("concurrent readers see whole documents: every read is a written " +
    "version, and the last write wins") {
    val wh = tmp("graft_docs_race")
    val store = new FeatureStore(spark, warehouseDir = wh)
    val fg = graft.model.FeatureGroup("raced", source =
      graft.model.ParquetSource("raced.parquet"))
    def suite(i: Int) = SuiteDef(s"v$i",
      (0 to i % 7).map(c => NotNullSpec(s"column_with_a_long_name_$c")))
    val versions = 300
    store.saveExpectationSuite(fg, suite(0))
    @volatile var writing = true
    val writer = new Thread(() => {
      try (1 to versions).foreach(i => store.saveExpectationSuite(fg, suite(i)))
      finally writing = false
    })
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readCounts = new java.util.concurrent.atomic.AtomicLong()
    val readers = (1 to 2).map { _ =>
      new Thread(() =>
        while (writing) {
          try store.getExpectationSuite(fg) match {
            case Some(s) =>
              if (!s.name.stripPrefix("v").toIntOption
                  .exists(n => n >= 0 && n <= versions && suite(n) == s))
                failures.add(s"unknown version read: $s")
            case None => failures.add("document absent mid-overwrite")
          } catch { case e: Exception => failures.add(e.toString) }
          readCounts.incrementAndGet()
        })
    }
    readers.foreach(_.start()); writer.start()
    writer.join(); readers.foreach(_.join())
    assert(failures.isEmpty,
      s"${failures.size} of ${readCounts.get} reads failed, e.g. " +
        failures.asScala.take(3).mkString("; "))
    assert(readCounts.get > 0)
    assert(store.getExpectationSuite(fg).contains(suite(versions)))
    assert(new FeatureStore(spark, warehouseDir = wh)
      .getExpectationSuite(fg).contains(suite(versions)))
  }

  test("crash residue: a staged document next to a live one is invisible " +
    "to get, ids, the catalog load and the view listing") {
    val wh = tmp("graft_docs_residue")
    val store = new FeatureStore(spark, warehouseDir = wh)
    val fg = store.register(graft.model.FeatureGroup("orders",
      source = graft.model.ParquetSource("orders.parquet")))
    store.saveFeatureView(graft.view.FeatureView("v", 1, fg.selectAll()))
    // what a writer killed between staging and rename leaves behind:
    // a hidden, partially written sibling of each live document
    for ((kind, id) <- Seq("catalog" -> "orders_1", "views" -> "v_1")) {
      Files.write(Paths.get(wh, s"_$kind", s".$id.json.0a1b2c3d.tmp"),
        """{"name":"trunc""".getBytes(UTF_8))
      Files.write(Paths.get(wh, s"_$kind", s".new_2.json.0a1b2c3d.tmp"),
        """{"name":"new","version":2}""".getBytes(UTF_8))
    }
    val docs = new DocumentStore(spark, wh)
    assert(docs.ids("catalog") == Seq("orders_1"))
    assert(docs.ids("views") == Seq("v_1"))
    assert(docs.get("catalog", "orders_1").map(_ \ "name")
      .contains(JString("orders")))
    assert(docs.get("catalog", "new_2").isEmpty)
    assert(CatalogPersistence.load(docs) == Seq(fg))
    assert(ViewPersistence.list(docs) == Seq(("v", 1)))
    val reopened = new FeatureStore(spark, warehouseDir = wh)
    assert(reopened.featureGroups == Seq(fg))
    assert(reopened.getFeatureView("v").query == fg.selectAll())
  }

  test("an unreadable document fails loudly, naming kind, id and path") {
    val wh = tmp("graft_docs_corrupt")
    new FeatureStore(spark, warehouseDir = wh).register(
      graft.model.FeatureGroup("ok", source =
        graft.model.ParquetSource("ok.parquet")))
    val bad = Paths.get(wh, "_catalog", "bad_1.json")
    Files.write(bad, """{"name":"bad","version":1,"featu""".getBytes(UTF_8))
    val e = intercept[java.io.IOException] {
      new FeatureStore(spark, warehouseDir = wh)
    }
    assert(e.getMessage.contains(bad.toString), e.getMessage)
    assert(e.getMessage.contains("'bad_1'") &&
      e.getMessage.contains("'catalog'"), e.getMessage)
  }

  test("a warehouse written before the document store loads unchanged, " +
    "and re-saving it reproduces every document byte for byte") {
    val fixture = Paths.get(getClass.getResource("/parent_catalog").toURI)
    val docsIn = Files.walk(fixture).iterator.asScala
      .filter(p => Files.isRegularFile(p)).map(fixture.relativize).toSeq
    val wh = tmp("graft_docs_parent")
    // through the checksummed local filesystem, as the earlier code
    // wrote them: each document gets its `.crc` sibling
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    docsIn.foreach { rel =>
      local.copyFromLocalFile(new org.apache.hadoop.fs.Path(
        fixture.resolve(rel).toUri), new org.apache.hadoop.fs.Path(
        Paths.get(wh).resolve(rel).toUri))
    }
    assert(Files.exists(Paths.get(wh, "_catalog", ".orders_1.json.crc")))
    val F = ParentCatalog

    val store = new FeatureStore(spark, warehouseDir = wh)
    assert(store.featureGroups.sortBy(_.name) == F.groups.sortBy(_.name))
    val v = store.getFeatureView(F.view.name, F.view.version)
    assert(v.copy(transformations = Nil) == F.view.copy(transformations = Nil))
    assert(v.transformations.map(_.name) == F.view.transformations.map(_.name))
    assert(store.transformationFunctions == Seq("scale_amount"))
    assert(store.getExpectationSuite(F.orders).contains(F.suite))
    assert(store.getTags(F.orders) == F.groupTags)
    assert(store.getKeywords(F.orders) == F.keywords)
    assert(store.getTags(F.view) == F.viewTags)
    assert(store.trainingDatasets(F.view.name, F.view.version) == Seq(1, 2))
    assert(store.getTrainingDataset(F.view.name, F.view.version, 1) == F.td1)
    assert(store.getTrainingDataset(F.view.name, F.view.version, 2) == F.td2)
    assert(store.getTrainingStatistics(F.view.name, F.view.version,
      Some(1)).contains(F.stats))
    assert(new MonitoringEngine(spark, wh).listConfigs().sortBy(_.name) ==
      F.monitors.sortBy(_.name))

    // the same definitions saved through the store: identical documents
    val again = tmp("graft_docs_resave")
    F.write(new FeatureStore(spark, warehouseDir = again),
      new DocumentStore(spark, again), new MonitoringEngine(spark, again))
    val docsOut = Files.walk(Paths.get(again)).iterator.asScala
      .filter(p => p.toString.endsWith(".json"))
      .map(Paths.get(again).relativize).toSeq
    assert(docsOut.map(_.toString).sorted == docsIn.map(_.toString).sorted)
    docsIn.foreach { rel =>
      assert(new String(Files.readAllBytes(Paths.get(again).resolve(rel)),
        UTF_8) == new String(Files.readAllBytes(fixture.resolve(rel)), UTF_8),
        s"$rel differs")
    }

    // an update replaces the document and drops its stale checksum, so
    // the checksummed reader of the earlier code still opens it
    store.addTag(F.orders, "owner", "ml-platform")
    val tagDoc = new org.apache.hadoop.fs.Path(
      Paths.get(wh, "_tags", "fg_orders_1.json").toUri)
    val in = local.open(tagDoc)
    try assert(new String(in.readAllBytes, UTF_8).contains("ml-platform"))
    finally in.close()
    assert(!Files.exists(Paths.get(wh, "_tags", ".fg_orders_1.json.crc")))
  }
}

/** The catalog in `src/test/resources/parent_catalog`: these definitions,
  * written by the catalog code that predates [[DocumentStore]] (one
  * `create(overwrite)` per module).
  */
object ParentCatalog {
  import graft.model._
  import graft.ir.Dsl._
  import org.apache.spark.sql.types._

  val orders = FeatureGroup("orders", 1,
    features = Seq(
      Feature("o_id", LongType, primary = true, nullable = false),
      Feature("cust_id", LongType),
      Feature("ts", TimestampType),
      Feature("amount", DoubleType, description = Some("order total"),
        defaultValue = Some(0.0)),
      Feature("status", StringType, defaultValue = Some("open"))),
    primaryKey = Seq("o_id"), eventTime = Some("ts"),
    precombineKey = Some("ts"), source = LakeSource("lake/orders"),
    online = true,
    statisticsConfig = StatisticsConfig(correlations = true,
      columns = Seq("amount")))
  val customers = FeatureGroup("customers", 2,
    features = Seq(Feature("cust_id", LongType, primary = true),
      Feature("segment", StringType, partition = true),
      Feature("score", IntegerType, defaultValue = Some(7))),
    primaryKey = Seq("cust_id"), partitionKey = Seq("segment"),
    source = ParquetSource("data/customers.parquet"),
    statisticsConfig = StatisticsConfig(enabled = false))
  val external = FeatureGroup("ext", 1,
    features = Seq(Feature("k", StringType, primary = true)),
    primaryKey = Seq("k"),
    source = ConnectorSource("jdbc", Map("query" -> "select k from t"),
      Map("fs.s3a.endpoint" -> "local"), None))
  val groups = Seq(orders, customers, external)

  val scaleAmount = graft.ops.Transformations.builtin("scale_amount",
    "min_max_scaler", "amount")
  val view = graft.view.FeatureView("order_view", 1,
    query = orders.select("o_id", "ts", "amount", "status")
      .join(customers.select("segment", "score"), on = Seq("cust_id"),
        prefix = Some("c_"))
      .where(("amount" > 10.5) && (("status" in Seq("open", "paid")) ||
        ("o_id" === 3L)))
      .asOf(1700000000000L, Some(1600000000000L)),
    labels = Seq("status"), inferenceHelperColumns = Seq("ts"),
    trainingHelperColumns = Seq("o_id"),
    transformations = Seq(scaleAmount))

  val suite = SuiteDef("orders_suite", Seq(NotNullSpec("o_id"),
    BetweenSpec("amount", 0.0, 1e6), InSetSpec("status", Seq("open", "paid")),
    RegexSpec("status", "^[a-z]+$"), UniqueSpec("o_id")), Policy.Always)
  val groupTags = Map("owner" -> "risk", "pii" -> "false")
  val keywords = Seq("orders", "gold")
  val viewTags = Map("stage" -> "prod")

  val td1 = TrainingDatasetPersistence.TrainingDatasetMeta("order_view", 1, 1,
    "parquet", "wh/training_datasets/order_view_1/1",
    randomWeights = Map("train" -> 0.8, "test" -> 0.2), seed = 7L,
    exactSizes = true, createdMillis = 1700000000123L)
  val td2 = TrainingDatasetPersistence.TrainingDatasetMeta("order_view", 1, 2,
    "avro", "wh/training_datasets/order_view_1/2",
    timeBounds = Map("train" -> (0L, 100L), "test" -> (100L, 200L)),
    createdMillis = 1700000000456L, coalesce = true,
    groupSplit = Some(graft.ops.Splits.GroupSplit("cust_id",
      Seq("train" -> 0.7, "val" -> 0.3), "salt-1")))
  val stats = Map(
    "amount" -> FeatureStatistics(1.0, 99.5, 40.25, 12.0, 20.0, 41.0, 60.0,
      Nil),
    "status" -> FeatureStatistics(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      Seq("open", "paid")))

  val monitors = Seq(
    MonitoringConfig("amount_mean", "orders", 1, "amount", "ts",
      detection = WindowSpec(Some(3600000L), 0L, 0.5),
      reference = Some(WindowSpec(Some(86400000L), 3600000L)),
      comparison = ComparisonSpec("mean", 0.2, relative = true),
      schedule = ScheduleSpec(60000L, 1000L)),
    MonitoringConfig("amount_psi", "orders", 1, "amount", "ts",
      detection = WindowSpec(None), reference = None,
      referenceValue = Some(3.5),
      comparison = ComparisonSpec("psi", 0.1, strict = true, bins = 20,
        lo = -1.0, hi = 2.5),
      schedule = ScheduleSpec(0L), enabled = false))

  /** Write every definition through the store's public surface. */
  def write(store: FeatureStore, docs: DocumentStore,
            monitoring: MonitoringEngine): Unit = {
    groups.foreach(store.register)
    store.createTransformationFunction("scale_amount", "min_max_scaler",
      "amount")
    store.saveFeatureView(view)
    store.saveExpectationSuite(orders, suite)
    groupTags.foreach { case (k, v) => store.addTag(orders, k, v) }
    store.addKeywords(orders, keywords)
    viewTags.foreach { case (k, v) => store.addTag(view, k, v) }
    Seq(td1, td2).foreach(TrainingDatasetPersistence.save(docs, _))
    store.saveTrainingStatistics(view.name, view.version, stats, Some(1))
    monitors.foreach(monitoring.saveConfig)
  }
}
