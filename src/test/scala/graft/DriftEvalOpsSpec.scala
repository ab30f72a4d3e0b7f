package graft

import graft.ops.{Monitoring, Similarity, TemporalFeatures, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Round-12 operators: JSD drift, truncated rank-biased overlap,
  * per-class simplified silhouette, Kaplan–Meier survival, OOV rate,
  * and PPMI co-occurrence — each against hand-computed closed-form
  * values.
  */
class DriftEvalOpsSpec extends SparkSpec {
  import spark.implicits._

  // two rankings over a shared id pool: (qid, id, rank) with rank a
  // permutation position 1..k of a sampled subset
  private val rankingsGen: Gen[(List[(Long, Long, Int)], List[(Long, Long, Int)])] = {
    def one(qids: Seq[Long], pool: Seq[Long]): Gen[List[(Long, Long, Int)]] =
      qids.foldLeft(Gen.const(List.empty[(Long, Long, Int)])) { (acc, q) =>
        for {
          l <- acc
          ids <- Gen.pick(5, pool)
        } yield l ++ ids.toList.zipWithIndex.map {
          case (id, i) => (q, id, i + 1) }
      }
    for {
      a <- one(Seq(1L, 2L, 3L), 10L to 25L)
      b <- one(Seq(1L, 2L, 3L), 10L to 25L)
    } yield (a, b)
  }

  test("jsdDrift: identical windows score 0; bounded by ln 2 on " +
    "disjoint windows") {
    // identical ref/det histograms → p = q in every bin → JSD exactly 0
    // pairs (2i, 2i+1) share a value with opposite flags → both windows
    // see the exact same histogram
    val same = Seq.tabulate(40)(i => ("k", ((i / 2) % 4).toDouble,
      i % 2 == 0)).toDF("g", "v", "is_ref")
    val s0 = Monitoring.jsdDrift(same, Seq("g"), col("v"), col("is_ref"),
      bins = 4, lo = 0.0, hi = 4.0).collect().head
    assert(s0.getAs[Double]("jsd") == 0.0)
    assert(s0.getAs[Long]("ref_total") == 20L &&
      s0.getAs[Long]("det_total") == 20L)
    // fully disjoint mass → JSD near (but below, smoothing) ln 2
    val apart = (Seq.fill(30)(("k", 0.5, true)) ++
      Seq.fill(30)(("k", 3.5, false))).toDF("g", "v", "is_ref")
    val s1 = Monitoring.jsdDrift(apart, Seq("g"), col("v"), col("is_ref"),
      bins = 4, lo = 0.0, hi = 4.0).collect().head.getAs[Double]("jsd")
    assert(s1 > 0.55 && s1 <= math.log(2.0) + 1e-9, s"jsd $s1")
  }

  test("jsdDrift: hand-computed two-bin value") {
    // ref: 3 in bin0, 1 in bin1; det: 1 in bin0, 3 in bin1; bins = 2
    // p = (3.5/5, 1.5/5), q = (1.5/5, 3.5/5); m = (.5, .5)
    // jsd = ½[.7 ln(.7/.5) + .3 ln(.3/.5) + .3 ln(.3/.5) + .7 ln(.7/.5)]
    //     = .7 ln 1.4 + .3 ln 0.6
    val df = (Seq.fill(3)(("k", 0.2, true)) ++ Seq(("k", 1.2, true)) ++
      Seq(("k", 0.2, false)) ++ Seq.fill(3)(("k", 1.2, false)))
      .toDF("g", "v", "is_ref")
    val got = Monitoring.jsdDrift(df, Seq("g"), col("v"), col("is_ref"),
      bins = 2, lo = 0.0, hi = 2.0).collect().head.getAs[Double]("jsd")
    val want = BigDecimal(0.7 * math.log(1.4) + 0.3 * math.log(0.6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == want, s"got $got want $want")
  }

  test("jsdFromCounts: zero-scan fold from stored partials matches " +
    "jsdDrift on the equivalent raw rows") {
    val raw = (Seq.fill(3)(("k", 0.2, true)) ++ Seq(("k", 1.2, true)) ++
      Seq(("k", 0.2, false)) ++ Seq.fill(3)(("k", 1.2, false)))
      .toDF("g", "v", "is_ref")
    val fromRaw = Monitoring.jsdDrift(raw, Seq("g"), col("v"),
      col("is_ref"), bins = 2, lo = 0.0, hi = 2.0).collect().head
    // the mergeable partials a monitoring store would hold
    val counts = Seq(("k", 0, 3L, 1L), ("k", 1, 1L, 3L))
      .toDF("g", "bin", "ref_n", "det_n")
    val fromCounts = Monitoring.jsdFromCounts(counts, Seq("g"), bins = 2)
      .collect().head
    assert(fromRaw.getAs[Double]("jsd") == fromCounts.getAs[Double]("jsd"))
    assert(fromCounts.getAs[Long]("ref_total") == 4L &&
      fromCounts.getAs[Long]("det_total") == 4L)
  }

  test("rankBiasedOverlap: identical rankings → rbo = 1 − p^k exactly; " +
    "disjoint → 0; partial hand case") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3)).toDF("qid", "id", "rnk")
    // q1: identical; q2: disjoint; q3: same set, ranks 1/2 swapped
    val b = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 90L, 1), (2L, 91L, 2), (2L, 92L, 3),
      (3L, 31L, 1), (3L, 30L, 2), (3L, 32L, 3)).toDF("qid", "id", "rnk")
    val out = Similarity.rankBiasedOverlap(a, b, "qid", "id", "rnk",
        k = 3, p = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // identical: truncated RBO = (1−p)·Σ p^{d−1} = 1 − p^k = 0.875
    assert(out(1L) == (3L, 0.875))
    assert(out(2L) == (0L, 0.0))
    // swapped top-2: ids 30,31 enter at depth 2, id 32 at depth 3:
    // (1−p)·[2·(p/2 + p²/3) + p²/3] = .5·(.5 + .25) = hand: 2·(.25+.0833..)
    // + .0833.. = .75, ×.5 = .375
    assert(out(3L) == (3L, 0.375))
  }

  test("classSilhouette: two tight separated classes near 1; " +
    "interleaved classes near 0 or below") {
    val good = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(0.2f, 0.0f), 0),
      (3L, Array(10.0f, 0.0f), 1), (4L, Array(10.2f, 0.0f), 1))
      .toDF("id", "vec", "lab")
    val g = Similarity.classSilhouette(good, "id", "vec", "lab")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // centroids at x ≈ 0.1 and 10.1; per class: s = ((10.0/10.1) +
    // (9.8/9.9)) / 2 ≈ 0.989999 (float→double cast noise ~1e-8 is far
    // inside the 6-decimal rounding)
    assert(g(0) == (2L, 0.989999) && g(1) == (2L, 0.989999))
    val bad = Seq(
      (1L, Array(0.0f), 0), (2L, Array(1.0f), 1),
      (3L, Array(2.0f), 0), (4L, Array(3.0f), 1))
      .toDF("id", "vec", "lab")
    val b = Similarity.classSilhouette(bad, "id", "vec", "lab")
      .collect().map(_.getDouble(2))
    assert(b.forall(_ <= 0.0), s"interleaved classes: $b")
  }

  test("classSilhouette: a point exactly on both centroids scores 0, " +
    "not NaN") {
    val df = Seq((1L, Array(0.0f), 0), (2L, Array(0.0f), 1))
      .toDF("id", "vec", "lab")
    val out = Similarity.classSilhouette(df, "id", "vec", "lab").collect()
    assert(out.forall(_.getDouble(2) == 0.0))
  }

  test("kaplanMeier: textbook small cohort, censoring between events") {
    // durations: events at t=1 (2 of 5), t=3 (1 of 2); censored at t=2
    // (1), t=3 (1). n(1)=5, S(1)=3/5; n(3)=2, S(3)=3/5·1/2=0.3
    val df = Seq((1L, true), (1L, true), (2L, false), (3L, true),
      (3L, false)).toDF("dur", "ev")
    val out = TemporalFeatures.kaplanMeier(df, col("dur"), col("ev"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toMap
    assert(out(1L) == (2L, 0L, 5L, 0.6))
    assert(out(2L) == (0L, 1L, 3L, 0.6))
    assert(out(3L) == (1L, 1L, 2L, 0.3))
  }

  test("kaplanMeier: d = n absorbing state yields exact 0, no ln(0)") {
    val df = Seq((1L, true), (2L, true), (2L, true)).toDF("dur", "ev")
    val out = TemporalFeatures.kaplanMeier(df, col("dur"), col("ev"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // t=1: S = 2/3; t=2: d=2, n=2 → S exactly 0
    assert(out(1L) == 0.666667)
    assert(out(2L) == 0.0)
  }

  test("oovRate: topK cut, occurrence-grain fraction, tie-break") {
    val train = Seq((1L, "a a a b b c")).toDF("id", "text")
    // topK=2 keeps {a, b} (count desc); c is OOV
    val corpus = Seq((10L, "a b c c"), (11L, "a a"), (12L, "z"))
      .toDF("id", "text")
    val out = TextAnalysis.oovRate(train, corpus, "id", "text", topK = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L) == (4L, 2L, 0.5))
    assert(out(11L) == (2L, 0L, 0.0))
    assert(out(12L) == (1L, 1L, 1.0))
    // tie at count 1 between c and d: token asc keeps c
    val train2 = Seq((1L, "c d")).toDF("id", "text")
    val o2 = TextAnalysis.oovRate(train2,
        Seq((9L, "c d")).toDF("id", "text"), "id", "text", topK = 1)
      .collect().head
    assert(o2.getLong(2) == 1L) // d is OOV, c kept
  }

  test("ppmiPairs: window banding, canonical order, exact marginals") {
    // doc: "a b a c" window 1 → adjacent pairs (a,b) (a,b) (a,c);
    // canonical: n(a,b)=2, n(a,c)=1; N = 6 endpoint occurrences;
    // marginals a:3, b:2, c:1
    val docs = Seq((1L, "a b a c")).toDF("id", "text")
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byName = TextAnalysis.ppmiPairs(docs, "id", "text", window = 1)
      .collect().map(r => (r.getAs[String]("word_a"),
        r.getAs[String]("word_b")) -> (r.getAs[Long]("n_ab"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("ppmi"))).toMap
    // ppmi(a,b) = ln(2·6/(3·2)) = ln 2; ppmi(a,c) = ln(1·6/(3·1)) = ln 2
    assert(byName(("a", "b")) == (2L, 3L, 2L, r6(math.log(2.0))))
    assert(byName(("a", "c"))._1 == 1L)
    assert(byName(("a", "c"))._4 == r6(math.log(6.0 / 3.0)))
    assert(byName.size == 2)
    // window 2 adds (b,a)→(a,b) and (a,c) skip pairs: "a b a c" w=2
    // pairs: (a,b),(a,a),(b,a),(b,c),(a,c) → n(a,b)=2, n(a,a)=1,
    // n(b,c)=1, n(a,c)=1
    val w2 = TextAnalysis.ppmiPairs(docs, "id", "text", window = 2)
      .collect().map(r => (r.getAs[String]("word_a"),
        r.getAs[String]("word_b")) -> r.getAs[Long]("n_ab")).toMap
    assert(w2 == Map(("a", "b") -> 2L, ("a", "a") -> 1L,
      ("b", "c") -> 1L, ("a", "c") -> 1L))
  }

  test("ppmiPairs: minPairCount prunes the hapax tail") {
    val docs = Seq((1L, "a b a b x y")).toDF("id", "text")
    val out = TextAnalysis.ppmiPairs(docs, "id", "text", window = 1,
      minPairCount = 2L)
    assert(out.collect().map(r => (r.getAs[String]("word_a"),
      r.getAs[String]("word_b"))).toSet == Set(("a", "b")))
  }

  test("invariants: RBO in [0, 1 − p^k]; tau in [−1, 1]; both agree " +
    "on n_common") {
    forSamples(rankingsGen) { case (a, b) =>
      val da = a.toDF("qid", "id", "rnk")
      val db = b.toDF("qid", "id", "rnk")
      val rbo = Similarity.rankBiasedOverlap(da, db, "qid", "id", "rnk",
        k = 5, p = 0.8).collect()
      val cap = 1.0 - math.pow(0.8, 5) + 1e-9
      rbo.foreach { r =>
        val v = r.getDouble(2)
        assert(v >= 0.0 && v <= cap, s"rbo out of range: $v")
      }
      val tau = Similarity.kendallTau(da, db, "qid", "id", "rnk", k = 5)
        .collect()
      tau.foreach { r =>
        if (!r.isNullAt(5)) {
          val t = r.getDouble(5)
          assert(t >= -1.0 && t <= 1.0, s"tau out of range: $t")
        }
      }
      val nc1 = rbo.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nc2 = tau.map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(nc1 == nc2, "RBO and tau must see the same common sets")
    }
  }

  test("invariants: kaplanMeier survival is non-increasing in t and " +
    "stays in [0, 1]") {
    val durGen = Gen.listOfN(60, for {
      t <- Gen.choose(1L, 12L)
      ev <- Gen.oneOf(true, false)
    } yield (t, ev))
    forSamples(durGen) { rows =>
      val out = TemporalFeatures.kaplanMeier(rows.toDF("dur", "ev"),
          col("dur"), col("ev"))
        .orderBy("t").collect()
        .map(r => (r.getLong(0), r.getDouble(4)))
      out.foreach { case (_, s) =>
        assert(s >= 0.0 && s <= 1.0, s"survival out of [0,1]: $s") }
      out.sliding(2).foreach {
        case Array((t1, s1), (t2, s2)) =>
          assert(s2 <= s1 + 1e-9,
            s"survival must not increase: S($t1)=$s1 < S($t2)=$s2")
        case _ =>
      }
    }
  }

  test("drift battery: NULL window-flag rows count in NEITHER total") {
    val df = Seq(("g", 0.5, Option(true)), ("g", 0.5, Option(true)),
      ("g", 0.6, Option(false)), ("g", 0.6, Option(false)),
      ("g", 0.7, Option.empty[Boolean]))
      .toDF("k", "v", "is_ref")
    for (scored <- Seq(
      Monitoring.psiDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.jsdDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.ksDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.wassersteinDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.chiSquareDrift(df, Seq("k"), col("v"), col("is_ref")))) {
      val r = scored.collect().head
      assert(r.getAs[Long]("ref_total") == 2L &&
        r.getAs[Long]("det_total") == 2L,
        s"null-flag row leaked into a window total: $r")
    }
  }

  test("FromCounts folds: unmerged duplicate (keys, bin) partials fold like merged") {
    val merged = Seq(("g", 0, 5L, 1L), ("g", 1, 2L, 6L))
      .toDF("k", "bin", "ref_n", "det_n")
    val partials = Seq(("g", 0, 2L, 1L), ("g", 0, 3L, 0L),
      ("g", 1, 2L, 4L), ("g", 1, 0L, 2L))
      .toDF("k", "bin", "ref_n", "det_n")
    def one(df: org.apache.spark.sql.DataFrame, f: String): Map[String, Any] = {
      val r = (f match {
        case "psi" => Monitoring.psiFromCounts(df, Seq("k"), bins = 2)
        case "jsd" => Monitoring.jsdFromCounts(df, Seq("k"), bins = 2)
        case "ks"  => Monitoring.ksFromCounts(df, Seq("k"))
        case _     => Monitoring.wassersteinFromCounts(df, Seq("k"), 0.25)
      }).collect().head
      r.schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
    }
    for (f <- Seq("psi", "jsd", "ks", "w1"))
      assert(one(partials, f) == one(merged, f),
        s"$f: unmerged partials diverged from the merged fold")
  }

  test("kaplanMeier: refuses a continuous duration column loudly") {
    val cont = (1 to 50).map(i => (i.toLong * 7 + 1, true)).toDF("t", "ev")
    val err = intercept[IllegalArgumentException] {
      TemporalFeatures.kaplanMeier(cont, col("t"), col("ev"),
        maxDistinct = 10).collect()
    }
    assert(err.getMessage.contains("distinct"))
    // bounded-bucket use keeps working and S(t) is a survival curve
    val ok = TemporalFeatures.kaplanMeier(
      Seq((1L, true), (1L, false), (2L, true), (3L, false))
        .toDF("t", "ev"), col("t"), col("ev")).collect()
    assert(ok.length == 3 &&
      ok.forall(r => r.getAs[Double]("survival") >= 0.0 &&
        r.getAs[Double]("survival") <= 1.0))
  }

  test("chiSquareDrift: null category is a real cell and dof counts it") {
    val df = Seq(
      ("g", Option("a"), true), ("g", Option("a"), false),
      ("g", Option("b"), true), ("g", Option("b"), false),
      ("g", None, true), ("g", None, false))
      .toDF("k", "cat", "is_ref")
    val out = Monitoring.chiSquareDrift(df, Seq("k"), col("cat"),
      col("is_ref")).collect().head
    // three cells (a, b, null) → dof = 2; the old countDistinct form
    // reported 1, internally inconsistent with the 3-cell chi2 sum
    assert(out.getAs[Long]("dof") == 2L)
  }

  test("chiSquareDrift: dof unchanged on null-free data") {
    val df = Seq(("g", "a", true), ("g", "b", false), ("g", "c", true))
      .toDF("k", "cat", "is_ref")
    val out = Monitoring.chiSquareDrift(df, Seq("k"), col("cat"),
      col("is_ref")).collect().head
    assert(out.getAs[Long]("dof") == 2L)
  }
}
