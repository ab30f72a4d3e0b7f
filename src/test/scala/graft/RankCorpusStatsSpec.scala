package graft

import graft.ops.{GraphOps, Similarity, Statistics, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Round-12 batch 2: Kendall tau ranker agreement, per-doc character
  * entropy, Zipf slope, vocabulary overlap, IPW-adjusted means, and
  * held-out transition NLL — each against hand-computed values.
  */
class RankCorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("kendallTau: identical → 1, reversed → −1, subset-agreeing → 1, " +
    "single common id → NULL") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3),
      (4L, 40L, 1), (4L, 41L, 2)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 3), (2L, 21L, 2), (2L, 22L, 1),
      (3L, 30L, 1), (3L, 31L, 2),
      (4L, 40L, 1), (4L, 99L, 2)).toDF("qid", "id", "rnk")
    val out = Similarity.kendallTau(a, b, "qid", "id", "rnk", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L) == (3L, 3L, 3L, 0L, Some(1.0)))
    assert(out(2L) == (3L, 3L, 0L, 3L, Some(-1.0)))
    assert(out(3L) == (2L, 1L, 1L, 0L, Some(1.0)))
    assert(out(4L) == (1L, 0L, 0L, 0L, None))
  }

  test("charEntropy: hand values — skewed, uniform, degenerate") {
    val docs = Seq((1L, "aab"), (2L, "abcd"), (3L, "aaaa"))
      .toDF("id", "text")
    val out = TextAnalysis.charEntropy(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // H(aab) = −(2/3·log2(2/3) + 1/3·log2(1/3)) = 0.9183
    assert(out(1L) == (3L, 2L, 0.9183))
    assert(out(2L) == (4L, 4L, 2.0))
    assert(out(3L) == (4L, 1L, -0.0) || out(3L) == (4L, 1L, 0.0))
  }

  test("zipfSlope: least squares over a constructed rank curve") {
    // single-token docs so the BPE-ish tokenizer sees bare tokens:
    // a×8, b×4, c×2, d×1 → ranks 1..4, counts 8,4,2,1
    val docs = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val row = TextAnalysis.zipfSlope(docs, "id", "text", topK = 10)
      .collect().head
    assert(row.getLong(0) == 4L)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = 4.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(math.abs(row.getDouble(1) - slope) < 1e-5,
      s"slope ${row.getDouble(1)} want $slope")
    assert(math.abs(row.getDouble(2) - intercept) < 1e-5)
  }

  test("vocabOverlap: type-grain jaccard against the reference group") {
    val docs = Seq(("g1", "a b c a"), ("en", "b c d e"), ("g2", "x y"))
      .toDF("g", "text")
    val out = TextAnalysis.vocabOverlap(docs, "text", col("g"), "en")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("g1") == (3L, 4L, 2L, 0.4))
    assert(out("g2") == (2L, 4L, 0L, 0.0))
    assert(!out.contains("en"))
  }

  test("ipwAdjust: post-stratification algebra, common support only") {
    // s1: treated {10,20}, control {1,3}; s2: treated {30},
    // control {2,4,6}; s3 treated-only {100} → dropped
    val df = Seq(
      (1, true, 10L), (1, true, 20L), (1, false, 1L), (1, false, 3L),
      (2, true, 30L), (2, false, 2L), (2, false, 4L), (2, false, 6L),
      (3, true, 100L)).toDF("s", "t", "y")
    val out = Statistics.ipwAdjust(df, col("t"), col("y"), Seq(col("s")))
      .collect().map(r => r.getBoolean(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // naive: treated 60/3 = 20, control 16/5 = 3.2
    // ipw: treated (4·15 + 4·30)/8 = 22.5, control (4·2 + 4·4)/8 = 3
    assert(out(true) == (3L, 20.0, 22.5))
    assert(out(false) == (5L, 3.2, 3.0))
  }

  test("tokenJsd: identical slices → 0; hand two-token value") {
    val same = Seq((1L, "a b", true), (2L, "a b", false))
      .toDF("id", "text", "r")
    val s0 = TextAnalysis.tokenJsd(same, col("text"), col("r"))
      .collect().head
    assert(s0.getAs[Double]("jsd") == 0.0 &&
      s0.getAs[Long]("n_vocab") == 2L)
    // ref "a a b" vs det "a b b": p = (.625, .375), q = (.375, .625)
    // → jsd = .625·ln 1.25 + .375·ln 0.75 = 0.0316
    val df = Seq((1L, "a a b", true), (2L, "a b b", false))
      .toDF("id", "text", "r")
    val out = TextAnalysis.tokenJsd(df, col("text"), col("r"))
      .collect().head
    val want = BigDecimal(0.625 * math.log(1.25) + 0.375 * math.log(0.75))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("jsd") == want)
    assert(out.getAs[Long]("ref_total") == 3L &&
      out.getAs[Long]("det_total") == 3L)
  }

  test("hhiConcentration: skewed, single-member, and even groups") {
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "x"), ("g3", "p"), ("g3", "q"), ("g3", "p"), ("g3", "q"))
      .toDF("g", "m")
    val out = Statistics.hhiConcentration(df, Seq("g"), col("m"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("g1") == (2L, 4L, 0.625)) // (9+1)/16
    assert(out("g2") == (1L, 1L, 1.0))
    assert(out("g3") == (2L, 4L, 0.5))   // (4+4)/16
  }

  test("transitionNll: add-k smoothed held-out scoring, unseen context " +
    "degrades to uniform") {
    // model: a→b ×2, b→a ×1 (V = 2, rows a:2, b:1)
    val fit = Seq((9L, 1L, "a"), (9L, 2L, "b"), (9L, 3L, "a"),
      (9L, 4L, "b")).toDF("u", "t", "s")
    val model = GraphOps.transitionCounts(fit, "u", Seq(col("t")),
      col("s"))
    // u1 scores a→b then b→b: p = 2.5/3 and 0.5/2
    val score = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "b"))
      .toDF("u", "t", "s")
    val out = GraphOps.transitionNll(model, score, "u", Seq(col("t")),
      col("s")).collect().head
    assert(out.getLong(1) == 2L)
    val want = BigDecimal(-(math.log(2.5 / 3.0) + math.log(0.25)) / 2.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getDouble(2) == want, s"got ${out.getDouble(2)} want $want")
    // an entirely unseen context: c→c scores the uniform floor 1/V
    val score2 = Seq((2L, 1L, "c"), (2L, 2L, "c")).toDF("u", "t", "s")
    val o2 = GraphOps.transitionNll(model, score2, "u", Seq(col("t")),
      col("s")).collect().head
    val wantU = BigDecimal(-math.log(0.5))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(o2.getDouble(2) == wantU)
  }

  test("invariants: HHI in [1/n_members, 1]; tokenJsd and jsdDrift in " +
    "[0, ln 2]") {
    val memGen = Gen.listOfN(80, for {
      g <- Gen.oneOf("g1", "g2")
      m <- Gen.choose(0, 9)
    } yield (g, s"m$m"))
    forSamples(memGen) { rows =>
      Statistics.hhiConcentration(rows.toDF("g", "m"), Seq("g"),
          col("m"))
        .collect().foreach { r =>
          val (n, h) = (r.getLong(1), r.getDouble(3))
          assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9,
            s"hhi out of [1/$n, 1]: $h")
        }
    }
    val docGen = Gen.listOfN(30, for {
      w <- Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e"))
      r <- Gen.oneOf(true, false)
    } yield (w.mkString(" "), r))
    forSamples(docGen) { rows =>
      val df = rows.toDF("text", "r")
      // degenerate single-sided samples have no distribution pair
      if (rows.exists(_._2) && rows.exists(!_._2)) {
        val j = TextAnalysis.tokenJsd(df, col("text"), col("r"))
          .collect().head.getAs[Double]("jsd")
        assert(j >= 0.0 && j <= math.log(2.0) + 1e-9,
          s"tokenJsd out of [0, ln2]: $j")
      }
    }
  }

  test("invariants: charEntropy bounded by log2(distinct chars); " +
    "scriptMix ratios sum to at most 1") {
    val txtGen = Gen.listOfN(12,
      Gen.listOfN(20, Gen.oneOf(('a' to 'f') ++ Seq(' ', '1', '中')))
        .map(_.mkString))
    forSamples(txtGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      TextAnalysis.charEntropy(df, "id", "text").collect().foreach { r =>
        val (nd, h) = (r.getLong(2), r.getDouble(3))
        val cap = math.log(nd.toDouble) / math.log(2.0) + 1e-4
        assert(h >= -0.0001 && h <= cap,
          s"entropy $h exceeds log2($nd)")
      }
      TextAnalysis.scriptMix(df, "id", "text").collect().foreach { r =>
        val s = r.getDouble(1) + r.getDouble(2) + r.getDouble(3) +
          r.getDouble(4)
        assert(s <= 1.0 + 1e-3, s"script ratios sum past 1: $s")
        Seq(1, 2, 3, 4).foreach(i =>
          assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0))
      }
    }
  }
}
