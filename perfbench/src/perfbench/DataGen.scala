package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded TPC-H-like inputs. Every value is a hash of (row id, seed, salt),
  * so the same seed gives the same rows whatever the partitioning.
  */
object DataGen {

  /** Uniform long in [0, n). */
  def u(id: Column, seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  private def pick(id: Column, seed: Long, salt: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), (u(id, seed, salt, vs.size) + 1).cast("int"))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Epoch = java.time.LocalDate.parse("1992-01-01")
  val OrderDays = 2400

  def customer(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(1, n + 1, 1, parts).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, seed, 1, 25).cast("int").as("c_nationkey"),
      ((u(id, seed, 2, 1100000L) - 99999L) / 100.0).as("c_acctbal"),
      pick(id, seed, 3, Segments).as("c_mktsegment"))
  }

  /** Orders schema, in declared column order. */
  val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType)))

  def orders(spark: SparkSession, n: Long, nCustomers: Long, seed: Long,
             parts: Int): DataFrame = {
    val id = col("id")
    spark.range(1, n + 1, 1, parts).select(
      id.as("o_orderkey"),
      (u(id, seed, 11, nCustomers) + 1).as("o_custkey"),
      pick(id, seed, 12, Statuses).as("o_orderstatus"),
      (u(id, seed, 13, 50000000L) / 100.0 + 900.0).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf(Epoch)),
        u(id, seed, 14, OrderDays).cast("int")).as("o_orderdate"),
      pick(id, seed, 15, Priorities).as("o_orderpriority"),
      format_string("Clerk#%09d", u(id, seed, 16, 1000) + 1).as("o_clerk"),
      lit(0).as("o_shippriority"))
  }

  /** Order history for point-in-time joins: every order plus, for about
    * half of them, a later version (status and price changed) 1–60 days
    * after the first.
    */
  def orderHistory(orders: DataFrame, seed: Long): DataFrame = {
    val k = col("o_orderkey")
    val later = orders.filter(u(k, seed, 21, 2) === 0).select(
      k, col("o_custkey"), lit("F").as("o_orderstatus"),
      (col("o_totalprice") + u(k, seed, 22, 100000L) / 100.0).as("o_totalprice"),
      date_add(col("o_orderdate"), (u(k, seed, 23, 60) + 1).cast("int"))
        .as("o_orderdate"),
      col("o_orderpriority"), col("o_clerk"), col("o_shippriority"))
    orders.unionByName(later)
  }

  /** Lineitem spine: 1–7 lines per order, shipped 1–121 days after it. */
  def lineitem(orders: DataFrame, seed: Long): DataFrame = {
    val k = col("o_orderkey")
    val lines = orders.select(k, col("o_orderdate"),
      explode(sequence(lit(1), (u(k, seed, 31, 7) + 1).cast("int")))
        .as("l_linenumber"))
    val lk = col("o_orderkey") * 8 + col("l_linenumber")
    val qty = (u(lk, seed, 33, 50) + 1).cast("double")
    lines.select(
      k.as("l_orderkey"),
      col("l_linenumber"),
      date_add(col("o_orderdate"), (u(lk, seed, 32, 121) + 1).cast("int"))
        .as("l_shipdate"),
      qty.as("l_quantity"),
      (qty * (u(lk, seed, 34, 200000L) / 100.0 + 900.0)).as("l_extendedprice"))
  }
}
