package graft

import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** The Materialize strategy conf: every mode preserves results, and an
  * unknown mode is refused loudly.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("Materialize: cache and reliable modes preserve results, bad mode is loud") {
    val df = Seq(1, 2, 3).toDF("x")
    try {
      spark.conf.set(Materialize.ModeKey, "cache")
      val pinned = Materialize.pin(df)
      assert(pinned.agg(sum("x")).collect().head.getLong(0) == 6L)
      pinned.unpersist()
      // reliable = Dataset.checkpoint — the cluster setting: blocks
      // survive executor loss because they live in the checkpoint dir
      val ckDir = java.nio.file.Files
        .createTempDirectory("graft_ck").toString
      spark.sparkContext.setCheckpointDir(ckDir)
      spark.conf.set(Materialize.ModeKey, "reliable")
      val rel = Materialize.pin(df)
      assert(rel.agg(sum("x")).collect().head.getLong(0) == 6L)
      spark.conf.set(Materialize.ModeKey, "bogus")
      intercept[IllegalArgumentException] { Materialize.pin(df) }
    } finally spark.conf.unset(Materialize.ModeKey)
  }
}
