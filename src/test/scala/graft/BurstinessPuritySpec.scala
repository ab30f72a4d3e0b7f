package graft

import graft.ops.{Dedup, TemporalFeatures}
import org.apache.spark.sql.functions._

/** Round-12 batch 3: inter-event burstiness and dedup-cluster label
  * purity — hand-computed values.
  */
class BurstinessPuritySpec extends SparkSpec {
  import spark.implicits._

  test("burstiness: periodic → −1 exactly, bursty > periodic, " +
    "single-event entity emits no row, whole-second gap truncation") {
    // user 1: perfectly periodic (gaps 10, 10, 10 s) → σ = 0 → B = −1
    // user 2: gaps 1, 1, 28 s → bursty, B > −1
    // user 3: one event → no gaps → absent
    val us = 1000000L
    val ev = Seq(
      (1L, 0L, 1L), (1L, 10L * us, 2L), (1L, 20L * us, 3L),
      (1L, 30L * us, 4L),
      (2L, 0L, 5L), (2L, 1L * us, 6L), (2L, 2L * us, 7L),
      (2L, 30L * us, 8L),
      (3L, 0L, 9L)).toDF("u", "ts_us", "eid")
    val out = TemporalFeatures.burstiness(ev, col("u"), col("ts_us"),
        Seq(col("eid")))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L)._1 == 3L && out(1L)._2 == 10.0 &&
      out(1L)._3 == Some(-1.0))
    // user 2: μ = 10, σ² = (1+1+784)/3 − 100 = 162, σ = 12.7279...,
    // B = (σ−10)/(σ+10) = 0.120062
    assert(out(2L)._1 == 3L && out(2L)._2 == 10.0)
    val sd = math.sqrt(786.0 / 3.0 - 100.0)
    val want = BigDecimal((sd - 10.0) / (sd + 10.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L)._3 == Some(want), s"got ${out(2L)._3} want $want")
    assert(!out.contains(3L))
    // sub-second gaps truncate: 0.4 s and 0.6 s gaps are both 0 whole
    // seconds → periodic at 0 → σ + μ = 0 → burstiness NULL
    val ev2 = Seq((9L, 0L, 1L), (9L, 400000L, 2L), (9L, 1000000L, 3L))
      .toDF("u", "ts_us", "eid")
    val o2 = TemporalFeatures.burstiness(ev2, col("u"), col("ts_us"),
      Seq(col("eid"))).collect().head
    assert(o2.getLong(1) == 2L && o2.getDouble(2) == 0.0 &&
      o2.isNullAt(3))
  }

  test("clusterPurity: majority counts, mixed cluster flagged, NULL " +
    "label is a real label") {
    // cluster 10: members 10, 11, 12 labels (en, en, de) → purity 2/3
    // cluster 20: members 20, 21 labels (fr, fr) → purity 1
    // cluster 30: members 30, 31 labels (en, NULL) → 2 labels, purity .5
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L), (30L, 30L), (31L, 30L))
      .toDF("id", "component")
    val labels = Seq((10L, Some("en")), (11L, Some("en")),
      (12L, Some("de")), (20L, Some("fr")), (21L, Some("fr")),
      (30L, Some("en")), (31L, None), (99L, Some("zz")))
      .toDF("doc_id", "lang")
    val out = Dedup.clusterPurity(clusters, labels, "doc_id", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(10L) == (3L, 2L, 2L, 0.666667))
    assert(out(20L) == (2L, 2L, 1L, 1.0))
    assert(out(30L) == (2L, 1L, 2L, 0.5))
    assert(out.size == 3)
  }

  test("scriptMix: latin/han/digit/whitespace ratios, empty text → 0s, " +
    "D7 multiplication sign excluded from latin") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "ab 12"),          // 2 latin, 2 digit, 1 ws of 5
      (2L, "中文 ok"), // 2 han, 2 latin, 1 ws of 5
      (3L, ""),               // empty → all 0.0
      (4L, "×é"))   // × excluded, é latin → 1 latin of 2
      .toDF("id", "text")
    val out = TextAnalysis.scriptMix(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toMap
    assert(out(1L) == (0.4, 0.0, 0.4, 0.2))
    assert(out(2L) == (0.4, 0.4, 0.0, 0.2))
    assert(out(3L) == (0.0, 0.0, 0.0, 0.0))
    assert(out(4L) == (0.5, 0.0, 0.0, 0.0))
  }

  test("ScriptMixCounts: VT is NOT whitespace (RE2 \\s parity), the five RE2 chars are") {
    // "ab" → 3 codepoints, 0 whitespace under RE2 semantics
    val df = Seq("ab", "a b\tc\nd\fe\rf").toDF("text")
      .select(graft.functions.TextScript.scriptMixCounts(col("text"))
        .as("m"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0)(0) == 3L && rows(0)(4) == 0L,
      s"VT must not count as whitespace: ${rows(0)}")
    assert(rows(1)(4) == 5L,
      s"tab/LF/FF/CR/space must all count: ${rows(1)}")
  }

  test("burstiness: hand value unchanged after the DECIMAL(38,0) accumulator") {
    // gaps 10 s and 30 s → μ=20, σ=10 → B = (10−20)/(10+20) = −1/3
    val df = Seq(("e", 0L), ("e", 10000000L), ("e", 40000000L))
      .toDF("entity", "ts_us")
    val out = TemporalFeatures.burstiness(df, col("entity"), col("ts_us"))
      .collect().head
    assert(out.getAs[Long]("n_gaps") == 2L)
    assert(math.abs(out.getAs[Double]("burstiness") - (-0.333333)) < 1e-6)
  }
}
