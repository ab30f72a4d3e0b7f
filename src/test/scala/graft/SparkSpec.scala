package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parity with SparkSessions.local: specs must see the same
      // streaming plan shape the driver sessions run (PlanBudgetSpec
      // asserts the session-window local merge)
      .config("spark.sql.streaming.sessionWindow.merge.sessions" +
        ".in.local.partition", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Deterministic sampling driver (scalatestplus bridge unavailable in
    * the offline cache): evaluates the property over `n` seeded samples.
    */
  protected def forSamples[A](gen: Gen[A], n: Int = 8)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
}
