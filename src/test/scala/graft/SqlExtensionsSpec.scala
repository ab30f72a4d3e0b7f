package graft

import graft.ir.{Query, TimeTravel}
import graft.planner.QueryPlanner
import graft.sources.Lake
import java.nio.file.Files

class SqlExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("vector functions usable from SQL after registration") {
    GraftExtensions.register(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("emb_sql")
    val row = spark.sql(
      """SELECT vec_cosine(embedding, embedding) AS c,
                vec_dot(embedding, embedding) AS d,
                vec_l2(embedding, embedding) AS l
         FROM emb_sql LIMIT 1""").collect().head
    assert(math.abs(row.getAs[Double]("c") - 1.0) < 1e-9)
    assert(row.getAs[Double]("d") > 0.0)
    assert(row.getAs[Double]("l") === 0.0)
  }

  test("text-analysis functions usable from SQL after registration") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_token_count('one two  three') AS n,
                graft_strip_markup('<p>Hello <b>world</b></p>&amp;') AS s,
                graft_markup_ratio('<p>x</p>') AS r,
                graft_redact_pii('mail a@b.co now') AS p,
                graft_fingerprint('abc') = graft_fingerprint(' ABC ') AS f
      """).collect().head
    assert(row.getAs[Int]("n") === 3)
    assert(row.getAs[String]("s") === "Hello world")
    assert(row.getAs[Double]("r") > 0.5)
    assert(row.getAs[String]("p") === "mail [EMAIL] now")
    assert(row.getAs[Boolean]("f"), "fingerprint normalizes case/space")

    // wrong arity is an analysis error, not silently-dropped arguments
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_token_count('a', 'b')").collect())
    assert(e.getMessage.contains("graft_token_count"))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_dot(array(1.0F))").collect())
  }

  test("bpeish token count: contractions, digit runs, punct runs, spaces") {
    GraftExtensions.register(spark)
    def n(s: String): Int = spark.sql(
      s"SELECT graft_bpeish_token_count('$s') AS n").collect().head.getAs[Int]("n")
    assert(n("hello world") === 2)        // [hello][ world]
    assert(n("it\\'s") === 2)             // [it]['s]
    assert(n("can\\'t stop") === 3)       // [can]['t][ stop]
    assert(n("v5.07") === 4)              // [v][5][.][07]
    assert(n("3.14x") === 4)              // [3][.][14][x]
    assert(n("#tag_x") === 4)             // [#][tag][_][x]
    assert(n("a  b") === 2)               // double space: second token unspaced
    assert(n("") === 0)
  }

  test("planner honors per-branch time travel on lake-backed groups") {
    val fs = new graft.catalog.FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_tt").toString)
    val fg = fs.createFeatureGroup("tt_fg",
      Seq((1L, "v1"), (2L, "w1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val t1 = Lake.listCommits(spark, root).head
    fs.insert(fg, Seq((1L, "v2"), (3L, "x1")).toDF("id", "v"))
    val t2 = Lake.listCommits(spark, root).last

    // as-of t1 through the IR
    val asOf = QueryPlanner.plan(spark, Query.selectAll(fg).asOf(t1))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(asOf.toSeq === Seq((1L, "v1"), (2L, "w1")))

    // incremental (t1, t2] through the IR (as_of + exclude_until)
    val inc = QueryPlanner.plan(spark,
        Query.selectAll(fg).asOf(t2, excludeUntil = Some(t1)))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inc.toSeq === Seq((1L, "v2"), (3L, "x1")))

    // latest state with no bounds
    val latest = QueryPlanner.plan(spark, Query.selectAll(fg))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(latest.toSeq === Seq((1L, "v2"), (2L, "w1"), (3L, "x1")))

    // string-wallclock form resolves through the same format sniffing
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    val asOfStr = QueryPlanner.plan(spark,
        Query.selectAll(fg).asOf(fmt.format(java.time.Instant.ofEpochMilli(t1))))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(asOfStr.toSeq === asOf.toSeq)
  }

  test("as_of stamps nested join branches unless they carry their own") {
    val fs = new graft.catalog.FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_tt2").toString)
    val a = fs.createFeatureGroup("tt_a",
      Seq((1L, "a1")).toDF("id", "av"), primaryKey = Seq("id"))
    val b = fs.createFeatureGroup("tt_b",
      Seq((1L, "b1")).toDF("id", "bv"), primaryKey = Seq("id"))
    val rootB = b.source.asInstanceOf[graft.model.LakeSource].root
    val tB1 = Lake.listCommits(spark, rootB).head
    fs.insert(b, Seq((1L, "b2")).toDF("id", "bv"))

    // branch-local as_of on b wins over the root's stamp
    val q = Query.selectAll(a)
      .join(Query.selectAll(b).asOf(tB1), on = Seq("id"))
      .asOf(System.currentTimeMillis())
    val row = QueryPlanner.plan(spark, q).collect().head
    assert(row.getAs[String]("bv") === "b1")
  }

  test("stores built on one session register the SQL functions once: " +
    "no replaced-function WARN") {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-register-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function"))
          replaced.add(m)
      }
    }
    capture.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      // start from a session without the functions, so the first store
      // registers them and the next two find them
      val reg = spark.sessionState.functionRegistry
      GraftExtensions.functions.foreach { case (name, _, _) =>
        reg.dropFunction(FunctionIdentifier(name)) }
      val wh = Files.createTempDirectory("graft_register_once").toString
      val stores = (1 to 3).map(_ =>
        new graft.catalog.FeatureStore(spark, warehouseDir = wh))
      assert(replaced.isEmpty, s"${replaced.size} WARN events, e.g. " +
        replaced.peek())
      val c = stores.last.sql(
        "SELECT vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .collect().head.getAs[Double]("c")
      assert(math.abs(c - 1.0) < 1e-9)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
