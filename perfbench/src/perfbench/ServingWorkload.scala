package perfbench

import graft.ir.Query
import graft.model.FeatureGroup
import graft.serving.FeatureVectorServer
import graft.view.FeatureView
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Online serving: a view of `orders ⋈ customer` (customer columns
  * prefixed), materialized online once in set-up. One caller sends
  * uniformly drawn single-key `getFeatureVector` lookups and 100-key
  * `getFeatureVectors` batches in a 10:1 ratio. The data is small, so the
  * time is per-request fixed cost: IR lowering, Catalyst and job
  * scheduling.
  */
final class ServingWorkload(ctx: Ctx, nOrders: Long, nCustomers: Long)
    extends Workload {
  import ctx.{spark, tracer}

  private val ordersPath = ctx.path("data/orders.parquet")
  private val customerPath = ctx.path("data/customer.parquet")
  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val custCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  private val prefix = "cust_"
  /** Output columns of a feature vector, in the view's order. */
  private val vectorCols = orderCols ++ custCols.map(prefix + _)
  private val BatchSize = 100

  /** key → expected vector, from a plain parquet join made in set-up */
  private var expected: Map[Long, Seq[Any]] = Map.empty
  private var server: FeatureVectorServer = _
  private val materializeS = new Samples
  private val single = new Samples
  private val batch = new Samples
  private var vectors = 0L
  private var lookupMs = 0.0

  def generate(): Map[String, Any] = {
    val parts = ctx.cores
    DataGen.customer(spark, nCustomers, ctx.seed, parts)
      .write.parquet(customerPath)
    DataGen.orders(spark, nOrders, nCustomers, ctx.seed, parts)
      .write.parquet(ordersPath)
    val o = spark.read.parquet(ordersPath).select(orderCols.map(col): _*)
    val c = spark.read.parquet(customerPath)
      .select((col("c_custkey") +: custCols.map(n => col(n).as(prefix + n))): _*)
    expected = o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(vectorCols.map(col): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    Map("orders_rows" -> nOrders, "customer_rows" -> nCustomers,
      "reference_vectors" -> expected.size)
  }

  def setup(): Unit = {
    val orders = FeatureGroup.fromParquet(spark, "orders", ordersPath,
      primaryKey = Seq("o_orderkey"), eventTime = Some("o_orderdate"))
    val customer = FeatureGroup.fromParquet(spark, "customer", customerPath,
      primaryKey = Seq("c_custkey"))
    val view = FeatureView("orders_customer", 1,
      Query.select(orders, orderCols)
        .join(Query.select(customer, custCols), leftOn = Seq("o_custkey"),
          rightOn = Seq("c_custkey"), prefix = Some(prefix)))
    if (server != null) { server.close(); ctx.awaitUncached() }
    server = new FeatureVectorServer(spark, view)
    val t0 = System.nanoTime()
    tracer.span("serving.materialize")(server.materializeOnline())
    materializeS += (System.nanoTime() - t0) / 1e6
  }

  private def drawKey(): Long = 1L + (ctx.rnd.nextDouble() * nOrders).toLong

  private def lookup(kind: String, keys: Seq[Long]): Double = {
    val (_, ms) = ctx.op(kind) {
      val df = tracer.span("serving.build_df") {
        if (keys.size == 1) server.getFeatureVector(Map("o_orderkey" -> keys.head))
        else server.getFeatureVectors(spark.createDataFrame(
          java.util.Arrays.asList(keys.map(k => Row(k)): _*),
          StructType(Seq(StructField("o_orderkey", LongType)))))
      }
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      tracer.span("exec.collect")(df.collect())
    }(rows => verify(keys, rows))
    ms
  }

  private def verify(keys: Seq[Long], rows: Array[Row]): Option[String] = {
    if (rows.length != keys.size)
      return Some(s"${rows.length} vectors for ${keys.size} keys")
    val got = rows.map(r => vectorCols.map(c => r.get(r.fieldIndex(c))))
      .sortBy(_.head.asInstanceOf[Long]).toSeq
    val want = keys.sorted.map(expected)
    got.zip(want).collectFirst { case (g, w) if g != w =>
      s"vector mismatch: got $g, want $w"
    }
  }

  /** One cycle: ten single-key lookups, then one 100-key batch. */
  def cycle(): Unit = {
    for (_ <- 1 to 10) {
      val ms = lookup("lookup_single", Seq(drawKey()))
      single += ms; lookupMs += ms; vectors += 1
    }
    val ms = lookup("lookup_batch100", Seq.fill(BatchSize)(drawKey()))
    batch += ms; lookupMs += ms; vectors += BatchSize
  }

  /** Lookup latency keeps falling for about twenty lookups while the JIT
    * compiles the path; two cycles take most of that slope out.
    */
  def warmup(): Unit = { cycle(); cycle() }

  def startMeasuring(): Unit = {
    single.clear(); batch.clear(); vectors = 0; lookupMs = 0
  }

  def endToEnd(): Map[String, Double] = Map(
    "op_ms_p50" -> single.p50,
    "rows_per_s" -> vectors / (lookupMs / 1000))

  def layerExtras(): Map[String, Double] =
    Map("serving.materialize_s" -> materializeS.p50 / 1000)

  def detail(): Map[String, Any] = Map(
    "lookup_single_ms_p50" -> single.p50,
    "lookup_single_ms_tail" -> single.tail,
    "lookup_single" -> single.summary,
    "lookup_batch100_ms_p50" -> batch.p50,
    "lookup_batch100" -> batch.summary,
    "vectors_per_s" -> vectors / (lookupMs / 1000),
    "materialize_s_each" -> materializeS.ms.map(_ / 1000))
}
