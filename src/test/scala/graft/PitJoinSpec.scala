package graft

import graft.ops.PointInTimeJoin
import org.apache.spark.sql.Row

class PitJoinSpec extends SparkSpec {
  import spark.implicits._

  private def spine = Seq(
    (1L, 100L, "a"), // key 1 at t=100
    (1L, 50L, "b"),  // key 1 at t=50
    (2L, 10L, "c"),  // key 2, before any right row
    (3L, 99L, "d")   // key absent on the right
  ).toDF("k", "t", "tag")

  private def right = Seq(
    (1L, 100L, "r@100", 1.0), // exact tie with spine t=100 → eligible
    (1L, 100L, "r@100b", 2.0), // duplicate ts — tie broken by precombine
    (1L, 60L, "r@60", 0.0),
    (1L, 40L, "r@40", 0.0),
    (2L, 20L, "r@20", 0.0)
  ).toDF("k", "t", "v", "pc")

  test("asOfWithTolerance nulls stale matches, keeps fresh ones") {
    // t is unit-sniffed as seconds → micros; spine b (t=50) matches r@40
    // (10 s stale), spine a (t=100) matches the tie at t=100 (0 s stale)
    val out = PointInTimeJoin
      .asOfWithTolerance(spine, "t", right, "t", Seq("k"), Seq("k"),
        prefix = "r_", toleranceUs = 5000000L, tieBreak = Some("pc"))
      .collect()
    val byTag = out.map(r => r.getAs[String]("tag") -> r).toMap
    assert(byTag("a").getAs[String]("r_v") === "r@100b", "fresh match kept")
    assert(byTag("b").getAs[String]("r_v") === null, "stale match nulled")
    assert(byTag("b").get(byTag("b").fieldIndex("r_t")) === null,
      "every right payload column nulls together")
    assert(byTag("c").getAs[String]("r_v") === null)
    assert(byTag("d").getAs[String]("r_v") === null)
    // spine columns untouched by the staleness projection
    assert(byTag("b").getAs[Long]("t") === 50L)
  }

  test("latest right row ≤ t per key, exactly one row per spine row") {
    val out = PointInTimeJoin
      .asOf(spine, "t", right, "t", Seq("k"), Seq("k"), prefix = "r_",
        tieBreak = Some("pc"))
      .orderBy("tag")
      .collect()
    assert(out.length === 4)
    val byTag = out.map(r => r.getAs[String]("tag") -> r).toMap
    // t=100: ties at right t=100; precombine 2.0 wins
    assert(byTag("a").getAs[String]("r_v") === "r@100b")
    // t=50: latest ≤ 50 is r@40
    assert(byTag("b").getAs[String]("r_v") === "r@40")
    // t=10: nothing ≤ 10 → null
    assert(byTag("c").getAs[String]("r_v") === null)
    // key 3 absent → null
    assert(byTag("d").getAs[String]("r_v") === null)
  }

  test("null right event times never match; null spine times get nulls") {
    val r2 = Seq((1L, Option.empty[Long], "rnull"), (1L, Some(5L), "r5"))
      .toDF("k", "t", "v")
    val s2 = Seq((1L, Some(10L), "x"), (1L, Option.empty[Long], "y"))
      .toDF("k", "t", "tag")
    val out = PointInTimeJoin
      .asOf(s2, "t", r2, "t", Seq("k"), Seq("k"), prefix = "r_")
      .collect().map(r => r.getAs[String]("tag") -> r.getAs[String]("r_v")).toMap
    assert(out("x") === "r5")
    assert(out("y") === null)
  }

  test("right-side per-column nulls are preserved (no stale carry-forward)") {
    val r3 = Seq((1L, 10L, Some("old")), (1L, 20L, Option.empty[String]))
      .toDF("k", "t", "v")
    val s3 = Seq((1L, 30L, "s")).toDF("k", "t", "tag")
    val out = PointInTimeJoin.asOf(s3, "t", r3, "t", Seq("k"), Seq("k"),
      prefix = "r_").collect()
    // newest right row has v=null; a naive per-column last() would give "old"
    assert(out.head.getAs[String]("r_v") === null)
    assert(out.head.getAs[Long]("r_t") === 20L)
  }

  test("null keys never match (null != null), spine rows still preserved") {
    val s = Seq((Option(1L), 100L, "a"), (Option.empty[Long], 100L, "nullk"))
      .toDF("k", "t", "tag")
    val r = Seq((Option(1L), 50L, "r1"), (Option.empty[Long], 50L, "rnull"))
      .toDF("k", "t", "v")
    val out = PointInTimeJoin
      .asOf(s, "t", r, "t", Seq("k"), Seq("k"), prefix = "r_")
      .orderBy("tag").collect()
    assert(out.length === 2)
    val byTag = out.map(x => x.getAs[String]("tag") -> x).toMap
    assert(byTag("a").getAs[String]("r_v") === "r1")
    // the null-keyed spine row must NOT pick up the null-keyed right row
    assert(byTag("nullk").getAs[String]("r_v") === null)
  }

  test("tie-break keeps full precision for longs above 2^53") {
    val big = (1L << 53) // 9007199254740992: +1 is indistinguishable as double
    val s = Seq((1L, 100L, "a")).toDF("k", "t", "tag")
    val r = Seq((1L, 100L, "low", big + 1), (1L, 100L, "high", big + 2))
      .toDF("k", "t", "v", "pc")
    val out = PointInTimeJoin
      .asOf(s, "t", r, "t", Seq("k"), Seq("k"), prefix = "r_",
        tieBreak = Some("pc"))
      .collect()
    assert(out.length === 1 && out.head.getAs[String]("r_v") === "high")
  }

  test("colliding output columns are rejected with a clear error") {
    val sp = Seq((1L, 10L, "x")).toDF("k", "t", "v")
    val r = Seq((1L, 5L, "y")).toDF("k", "t", "v")
    val e = intercept[IllegalArgumentException] {
      PointInTimeJoin.asOf(sp, "t", r, "t", Seq("k"), Seq("k"))
    }
    assert(e.getMessage.contains("prefix"))
  }

  test("salted PIT join matches the unsalted result exactly") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val clicks = ev.filter($"event_type" === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter($"event_type" === "view")
      .select("user_id", "ts", "value")
    def run(buckets: Int) = PointInTimeJoin
      .asOf(clicks, "ts", views, "ts", Seq("user_id"), Seq("user_id"),
        prefix = "v_", saltBuckets = buckets)
      .select("event_id", "v_ts", "v_value")
    val plain = run(1)
    val salted = run(8)
    assert(plain.except(salted).isEmpty && salted.except(plain).isEmpty)
  }

  test("AutoSalt picks buckets > 1 for a planted hot key, with value parity") {
    import org.apache.spark.sql.functions.{when, lit, concat}
    // 50k spine rows, 90% on one hot user — exactly the shape where an
    // unsalted window serializes onto one task
    val spine = spark.range(50000)
      .select($"id".as("event_id"),
        when($"id" % 10 < 9, 7L).otherwise($"id" % 100).as("k"),
        ($"id" * 3 + 1).as("t"))
    val right = spark.range(500)
      .select(($"id" % 100).as("k"), ($"id" * 17 % 150000).as("t"),
        concat(lit("p"), $"id").as("payload"))

    // a ~45k-row hot key against a 1000-row bucket target must split
    val derived = PointInTimeJoin.deriveSaltBuckets(spine, Seq("k"),
      maxKeyRowsPerBucket = 1000L)
    assert(derived > 1, s"hot key must auto-select salting, got $derived")
    assert(derived <= 32, "replication stays capped")

    // a uniform spine must NOT pay right-side replication
    val uniform = spark.range(50000)
      .select(($"id" % 5000).as("k"), $"id".as("t"))
    assert(PointInTimeJoin.deriveSaltBuckets(uniform, Seq("k"),
      maxKeyRowsPerBucket = 1000L) === 1)

    // a caller-supplied row count (computed-frame path: skip the exact
    // count job) derives the same buckets as the counted path — the hint
    // only sets the sampling fraction, and the hot-key estimate rescales
    // by the same fraction
    val spineN = spine.count()
    assert(PointInTimeJoin.deriveSaltBuckets(spine, Seq("k"),
      maxKeyRowsPerBucket = 1000L, spineRows = Some(spineN)) === derived)
    // and a hint within 2x of truth still lands on the same decision
    assert(PointInTimeJoin.deriveSaltBuckets(uniform, Seq("k"),
      maxKeyRowsPerBucket = 1000L, spineRows = Some(100000L)) === 1)

    def run(buckets: Int) = PointInTimeJoin
      .asOf(spine, "t", right, "t", Seq("k"), Seq("k"), prefix = "r_",
        saltBuckets = buckets, maxKeyRowsPerBucket = 1000L)
      .select("event_id", "r_t", "r_payload")
    val auto = run(PointInTimeJoin.AutoSalt)
    val plain = run(1)
    assert(auto.except(plain).isEmpty && plain.except(auto).isEmpty)
  }

  test("matches a window-based reference implementation on real data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("vts"), $"event_id".as("vid"))

    val fast = PointInTimeJoin
      .asOf(clicks, "ts", views.withColumnRenamed("vts", "ts2"), "ts2",
        Seq("user_id"), Seq("user_id"), prefix = "v_")
      .select($"event_id", $"v_vid")

    val naive = clicks.alias("l")
      .join(views.alias("r"),
        $"l.user_id" === $"r.user_id" && $"r.vts" <= $"l.ts", "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_id").orderBy($"r.vts".desc_nulls_last)))
      .filter($"rn" === 1)
      .select($"event_id", $"vid".as("v_vid"))

    assert(fast.except(naive).isEmpty && naive.except(fast).isEmpty)
  }

  test("validAsOf: interval containment, gaps, open end, exclusive bound") {
    // key 1 versions: [10, 20) v1, [20, 25) v2 (expired early — gap
    // [25, 40)), [40, null) v3 open-ended
    val dim = Seq(
      (1L, 10L, Some(20L), "v1"),
      (1L, 20L, Some(25L), "v2"),
      (1L, 40L, None: Option[Long], "v3")
    ).toDF("k", "vf", "vt", "ver")
    val probes = Seq(
      (1L, 10L, "at-start"),     // inclusive start → v1
      (1L, 19L, "inside"),       // → v1
      (1L, 20L, "boundary"),     // exclusive end of v1, start of v2 → v2
      (1L, 30L, "in-gap"),       // [25,40) uncovered → null
      (1L, 500L, "open-ended"),  // → v3
      (2L, 15L, "no-key")        // → null
    ).toDF("k", "t", "tag")
    val out = PointInTimeJoin
      .validAsOf(probes, "t", dim, "vf", "vt", Seq("k"), Seq("k"),
        prefix = "d_")
      .collect()
    assert(out.length === 6, "exactly one output row per spine row")
    val got = out.map(r =>
      r.getAs[String]("tag") -> r.getAs[String]("d_ver")).toMap
    assert(got === Map("at-start" -> "v1", "inside" -> "v1",
      "boundary" -> "v2", "in-gap" -> null, "open-ended" -> "v3",
      "no-key" -> null))
    // an expired match nulls every dim payload column together
    val gap = out.find(_.getAs[String]("tag") == "in-gap").get
    assert(gap.get(gap.fieldIndex("d_vf")) === null &&
      gap.get(gap.fieldIndex("d_vt")) === null)
  }

  test("validAsOf matches a naive range join on real data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
    val versions = ev.filter($"event_type" === "purchase" &&
        $"user_id".isNotNull && $"ts".isNotNull)
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("version_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    val dim = versions
      .withColumn("valid_from", $"ts")
      .withColumn("valid_to",
        least(coalesce(lead($"ts", 1).over(w),
            $"ts" + expr("INTERVAL 3 DAYS")),
          $"ts" + expr("INTERVAL 3 DAYS")))
      .select($"user_id", $"valid_from", $"valid_to", $"version_id")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")

    val fast = PointInTimeJoin
      .validAsOf(clicks, "ts", dim, "valid_from", "valid_to",
        Seq("user_id"), Seq("user_id"), prefix = "d_")
      .select($"event_id", $"d_version_id")
    val naive = clicks.alias("l")
      .join(dim.alias("r"),
        $"l.user_id" === $"r.user_id" &&
          $"l.ts" >= $"r.valid_from" && $"l.ts" < $"r.valid_to", "left")
      .select($"event_id", $"version_id".as("d_version_id"))
    assert(fast.except(naive).isEmpty && naive.except(fast).isEmpty)
  }

  test("PIT tie-break: duplicate right timestamps resolve to max event_id") {
    import graft.ops.PointInTimeJoin
    val spine = Seq((1L, 100L)).toDF("user_id", "ts")
    val right = Seq((1L, 50L, 7L, 1.0), (1L, 50L, 9L, 2.0),
        (1L, 50L, 8L, 3.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = PointInTimeJoin.asOf(spine, "ts", right, "ts",
      Seq("user_id"), Seq("user_id"), prefix = "r_",
      tieBreak = Some("event_id")).collect().head
    assert(out.getAs[Long]("r_event_id") == 9L,
      "largest tie-break value must win the running last()")
  }
}
