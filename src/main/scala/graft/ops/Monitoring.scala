package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import graft.ops.Materialize.PinOps

/** Feature-monitoring configuration engine: persisted monitoring configs,
  * schedule bookkeeping, and window-comparison execution — the analog of
  * the reference's config/result engines
  * (python/hsfs/core/feature_monitoring_config_engine.py:34-500,
  * core/feature_monitoring_result_engine.py:342-440) with the scheduler
  * re-expressed for an in-process engine: [[MonitoringEngine.due]] exposes
  * which configs should fire at a given instant (drive it from any
  * external scheduler or a stream), and [[MonitoringEngine.runDue]]
  * executes them and appends to the persisted result log.
  *
  * Scale shape: one run = ONE scan of the feature data computing BOTH
  * windows' aggregate via conditional aggregation (no per-window scans),
  * plus one append of a single result row.
  */
object Monitoring {

  /** Detection/reference window spec (rolling window over event time, or
    * the full table when `sizeMillis` is None), with optional row
    * sampling — core/monitoring_window_config_engine.py:86-373.
    */
  final case class WindowSpec(
      sizeMillis: Option[Long],
      offsetMillis: Long = 0L,
      rowPercentage: Double = 1.0)

  /** Metric + comparison rule (core/feature_monitoring_result_engine.py
    * :342-440): relative vs absolute difference against a threshold.
    * Metrics `psi` and `ks` are JOINT two-window drift scores rather
    * than per-window aggregates: the score itself is compared to the
    * threshold (`relative` is ignored), and `bins`/`lo`/`hi` fix the
    * value grid ([[psiDrift]]/[[ksDrift]] semantics).
    */
  final case class ComparisonSpec(
      metric: String, // mean | min | max | count | stddev | sum | psi | ks
      threshold: Double,
      relative: Boolean = false,
      strict: Boolean = false,
      bins: Int = 10,
      lo: Double = 0.0,
      hi: Double = 1.0)

  /** Metrics scored jointly over (reference, detection) rather than per
    * window.
    */
  private val DriftMetrics = Set("psi", "ks")

  /** Fixed-cadence schedule (the reference's job schedule cron analog). */
  final case class ScheduleSpec(everyMillis: Long, startMillis: Long = 0L)

  final case class MonitoringConfig(
      name: String,
      featureGroup: String,
      version: Int,
      feature: String,
      eventTimeCol: String,
      detection: WindowSpec,
      reference: Option[WindowSpec],
      referenceValue: Option[Double] = None,
      comparison: ComparisonSpec,
      schedule: ScheduleSpec,
      enabled: Boolean = true)

  final case class MonitoringResult(
      configName: String,
      executedAt: Long,
      detectionValue: Double,
      referenceValue: Double,
      difference: Double,
      shiftDetected: Boolean)

  private def metricAgg(metric: String, c: org.apache.spark.sql.Column) =
    metric match {
      case "mean"   => avg(c)
      case "min"    => min(c)
      case "max"    => max(c)
      case "count"  => count(c).cast("double")
      case "stddev" => stddev_samp(c)
      case "sum"    => sum(c)
      case other => throw new IllegalArgumentException(
        s"unsupported monitoring metric $other")
    }

  /** Execute one config at `nowMillis`: single scan, both windows via
    * conditional aggregation.
    */
  def run(spark: SparkSession, df: DataFrame, cfg: MonitoringConfig,
          nowMillis: Long): MonitoringResult = {
    val et = Splits.eventTimeMillisCol(df, cfg.eventTimeCol)
    def windowCond(w: WindowSpec) = w.sizeMillis match {
      case Some(size) =>
        val (s, e) = SchemaOps.rollingWindow(nowMillis, size, w.offsetMillis)
        et >= s && et < e
      case None => lit(true)
    }
    def sampled(c: org.apache.spark.sql.Column, w: WindowSpec) =
      if (w.rowPercentage >= 1.0) c
      else c && pmod(xxhash64(col(cfg.feature), et), lit(10000L)) <
        lit((w.rowPercentage * 10000).toLong)

    val detCond = sampled(windowCond(cfg.detection), cfg.detection)
    val value = col(cfg.feature)
    if (DriftMetrics.contains(cfg.comparison.metric)) {
      val refW = cfg.reference.getOrElse(throw new IllegalArgumentException(
        s"config ${cfg.name}: drift metric ${cfg.comparison.metric} needs" +
          " a reference WINDOW (a scalar referenceValue has no" +
          " distribution to compare against)"))
      val refCond = sampled(windowCond(refW), refW)
      // one scan: rows outside both windows are dropped, the rest carry
      // their window membership into the shared count frame
      val flagged = df.filter(detCond || refCond)
        .withColumn("_g", lit(1)).withColumn("_is_ref", refCond)
      val c = cfg.comparison
      val scored =
        if (c.metric == "psi")
          psiDrift(flagged, Seq("_g"), value, col("_is_ref"),
            c.bins, c.lo, c.hi)
        else ksDrift(flagged, Seq("_g"), value, col("_is_ref"),
          c.bins, c.lo, c.hi)
      val row = scored.collect().headOption.getOrElse(
        throw new IllegalArgumentException(
          s"config ${cfg.name}: both windows are empty"))
      val score = row.getDouble(1)
      val shift = if (c.strict) score >= c.threshold else score > c.threshold
      return MonitoringResult(cfg.name, nowMillis,
        detectionValue = row.getLong(3).toDouble, // detection rows
        referenceValue = row.getLong(2).toDouble, // reference rows
        difference = score, shiftDetected = shift)
    }
    val aggs = Seq(
      metricAgg(cfg.comparison.metric,
        when(detCond, value)).as("_det")) ++
      cfg.reference.map(r =>
        metricAgg(cfg.comparison.metric,
          when(sampled(windowCond(r), r), value)).as("_ref"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val det = Option(row.get(0)).fold(Double.NaN)(_.toString.toDouble)
    val ref = cfg.reference match {
      case Some(_) => Option(row.get(1)).fold(Double.NaN)(_.toString.toDouble)
      case None => cfg.referenceValue.getOrElse(
        throw new IllegalArgumentException(
          s"config ${cfg.name} has neither reference window nor value"))
    }
    val (diff, shift) = Statistics.differenceAndShift(
      det, ref, cfg.comparison.threshold, cfg.comparison.relative,
      cfg.comparison.strict)
    MonitoringResult(cfg.name, nowMillis, det, ref, diff, shift)
  }

  /** Population stability index between a reference and a detection
    * population of `valueCol`, per key group — THE standard
    * feature-drift score (PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) over value bins;
    * rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted).
    * Bins are `bins` equal-width slices of [lo, hi) with the tails
    * clamped into the edge bins (fixed edges, not quantiles, so the two
    * populations — and a SQL oracle — bin identically). Shares are
    * smoothed (count + 0.5) / (total + 0.5·bins), so an empty bin on one
    * side contributes a large-but-finite term instead of ±∞.
    *
    * Scale shape: the ONLY data-sized pass is one map-side-combined
    * groupBy to |keys × bins| rows, with both windows counted in the
    * same pass via conditional sums; the bin completion, totals, and the
    * PSI fold all run over that tiny frame. At 100 TB this is exactly
    * one scan — and the per-(key, bin) counts are themselves mergeable
    * partials ([[IncrementalStats]]), so a stored-count variant needs no
    * scan at all.
    */
  def psiDrift(df: DataFrame, keys: Seq[String],
               valueCol: org.apache.spark.sql.Column,
               isRef: org.apache.spark.sql.Column,
               bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(floor((valueCol - lit(lo)) / lit(width)),
      lit(0L)), lit((bins - 1).toLong)).cast("int")
    // rows with a NULL window flag belong to NEITHER window (the SQL
    // oracle's CASE WHEN / CASE WHEN NOT counts them in neither total) —
    // filter them out so engine and oracle agree (r12 ADVICE, battery-wide)
    val counts = df.filter(isRef.isNotNull)
      .groupBy((keys.map(col) :+ bin.as("bin")): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("ref_n"),
        sum(when(isRef, 0L).otherwise(1L)).as("det_n"))
    psiFromCounts(counts, keys, bins)
  }

  /** PSI from a stored per-(keys, bin) count frame (`bin`, `ref_n`,
    * `det_n` columns) — the zero-scan form: the counts are mergeable
    * partials (plain sums), so a monitoring job folds the new window's
    * counts into the store and scores drift WITHOUT touching raw data.
    * [[psiDrift]] is exactly one scan + this fold.
    */
  def psiFromCounts(counts0: DataFrame, keys: Seq[String],
                    bins: Int): DataFrame = {
    // input may carry UNMERGED stored partials (several rows per
    // (keys, bin) cell — the documented "fold the new window's counts
    // into the store" usage); merge them first so smoothing / cumsums
    // apply once per cell, not once per partial row (r12 ADVICE). Same
    // grouping keys as the producing aggregate, so no extra exchange
    // when the input is already merged.
    val counts = counts0.groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    // complete the bin grid from the counts frame itself (already tiny —
    // never a data scan): empty cells must smooth identically on both
    // sides of an oracle compare
    val grid = counts.select(keys.map(col): _*).distinct()
      .withColumn("bin", explode(sequence(lit(0), lit(bins - 1))))
    val filled = grid.join(counts, keys :+ "bin", "left")
      .select((keys.map(col) :+ col("bin") :+
        coalesce(col("ref_n"), lit(0L)).as("ref_n") :+
        coalesce(col("det_n"), lit(0L)).as("det_n")): _*)
    val totals = filled.groupBy(keys.map(col): _*)
      .agg(sum("ref_n").as("_rt"), sum("det_n").as("_dt"))
    val p = (col("ref_n") + lit(0.5)) / (col("_rt") + lit(0.5 * bins))
    val q = (col("det_n") + lit(0.5)) / (col("_dt") + lit(0.5 * bins))
    filled.join(totals, keys)
      .groupBy(keys.map(col): _*)
      .agg(round(sum((p - q) * log(p / q)), 4).as("psi"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"))
  }

  /** Binned two-sample Kolmogorov–Smirnov drift per key group: the max
    * absolute gap between the reference and detection ECDFs evaluated at
    * the bin boundaries of the same fixed [lo, hi) grid as [[psiDrift]].
    * Binned-ECDF KS is the scale-honest form — exact KS needs the full
    * sorted distinct-value set (a data-sized shuffle at 100 TB); the
    * binned statistic lower-bounds it and sharpens with `bins`. Both
    * drift scores fold from the SAME per-(key, bin) count frame, so a
    * monitoring job computes PSI + KS from one scan — or from stored
    * partials with no scan at all ([[psiFromCounts]], [[ksFromCounts]]).
    */
  def ksDrift(df: DataFrame, keys: Seq[String],
              valueCol: org.apache.spark.sql.Column,
              isRef: org.apache.spark.sql.Column,
              bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(floor((valueCol - lit(lo)) / lit(width)),
      lit(0L)), lit((bins - 1).toLong)).cast("int")
    // rows with a NULL window flag belong to NEITHER window (the SQL
    // oracle's CASE WHEN / CASE WHEN NOT counts them in neither total) —
    // filter them out so engine and oracle agree (r12 ADVICE, battery-wide)
    val counts = df.filter(isRef.isNotNull)
      .groupBy((keys.map(col) :+ bin.as("bin")): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("ref_n"),
        sum(when(isRef, 0L).otherwise(1L)).as("det_n"))
    ksFromCounts(counts, keys)
  }

  /** KS from a stored per-(keys, bin) count frame — zero-scan, same
    * contract as [[psiFromCounts]]. Empty bins need no grid completion:
    * the ECDF is constant across them, so they can never host the max.
    */
  def ksFromCounts(counts0: DataFrame, keys: Seq[String]): DataFrame = {
    // input may carry UNMERGED stored partials (several rows per
    // (keys, bin) cell — the documented "fold the new window's counts
    // into the store" usage); merge them first so smoothing / cumsums
    // apply once per cell, not once per partial row (r12 ADVICE). Same
    // grouping keys as the producing aggregate, so no extra exchange
    // when the input is already merged.
    val counts = counts0.groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val cum = counts
      .withColumn("_cr", sum(col("ref_n")).over(w))
      .withColumn("_cd", sum(col("det_n")).over(w))
      .withColumn("_rt", sum(col("ref_n")).over(wAll))
      .withColumn("_dt", sum(col("det_n")).over(wAll))
    cum.groupBy(keys.map(col): _*)
      .agg(round(max(abs(col("_cr") / col("_rt")
          - col("_cd") / col("_dt"))), 4).as("ks"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"))
  }

  /** Binned Wasserstein-1 (earth-mover) drift per key group: the
    * integral of |CDF_ref − CDF_det| over the value axis — the drift
    * score in the FEATURE'S OWN UNITS ("the distribution moved ~0.8
    * units of value"), which PSI (dimensionless) and KS (a single max
    * gap) can't express. Same fixed [lo, hi) grid and one
    * map-side-combined count pass as [[psiDrift]]/[[ksDrift]] — the
    * three scores share one scan, or zero from stored partials.
    */
  def wassersteinDrift(df: DataFrame, keys: Seq[String],
                       valueCol: org.apache.spark.sql.Column,
                       isRef: org.apache.spark.sql.Column,
                       bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(floor((valueCol - lit(lo)) / lit(width)),
      lit(0L)), lit((bins - 1).toLong)).cast("int")
    // rows with a NULL window flag belong to NEITHER window (the SQL
    // oracle's CASE WHEN / CASE WHEN NOT counts them in neither total) —
    // filter them out so engine and oracle agree (r12 ADVICE, battery-wide)
    val counts = df.filter(isRef.isNotNull)
      .groupBy((keys.map(col) :+ bin.as("bin")): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("ref_n"),
        sum(when(isRef, 0L).otherwise(1L)).as("det_n"))
    wassersteinFromCounts(counts, keys, width)
  }

  /** W1 from a stored per-(keys, bin) count frame — zero-scan. Empty
    * bins between seen bins DO contribute (unlike KS's max, W1 sums):
    * the CDF gap is constant across a gap of absent bins, so each seen
    * bin's term is weighted by its span to the next seen bin. Past the
    * last seen bin both CDFs are 1 and the gap is 0, so the last span
    * is irrelevant.
    */
  def wassersteinFromCounts(counts0: DataFrame, keys: Seq[String],
                            binWidth: Double): DataFrame = {
    // input may carry UNMERGED stored partials (several rows per
    // (keys, bin) cell — the documented "fold the new window's counts
    // into the store" usage); merge them first so smoothing / cumsums
    // apply once per cell, not once per partial row (r12 ADVICE). Same
    // grouping keys as the producing aggregate, so no extra exchange
    // when the input is already merged.
    val counts = counts0.groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("bin").asc)
    val wAll = Window.partitionBy(keys.map(col): _*)
    counts
      .withColumn("_cr", sum(col("ref_n")).over(w))
      .withColumn("_cd", sum(col("det_n")).over(w))
      .withColumn("_rt", sum(col("ref_n")).over(wAll))
      .withColumn("_dt", sum(col("det_n")).over(wAll))
      .withColumn("_span",
        coalesce(lead(col("bin"), 1).over(wLead), col("bin") + 1)
          - col("bin"))
      .groupBy(keys.map(col): _*)
      .agg(round(sum(abs(col("_cr") / col("_rt") - col("_cd") / col("_dt"))
          * col("_span")) * binWidth, 6).as("w1"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"))
  }

  /** Jensen–Shannon divergence drift per key group over the same fixed
    * [lo, hi) bin grid as [[psiDrift]]/[[ksDrift]]/[[wassersteinDrift]]:
    * JSD(P, Q) = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2. The BOUNDED
    * drift score the rest of the battery lacks — PSI is unbounded (one
    * emptied bin dominates), KS is a single max gap, W1 is in value
    * units; JSD ∈ [0, ln 2] always, symmetric, and finite even when a
    * bin's mass vanishes on one side, so alert thresholds transfer
    * across features without per-feature tuning. Same +0.5 Laplace
    * smoothing as PSI so the three scores share one smoothed grid.
    *
    * Scale shape: identical to PSI — one map-side-combined count pass to
    * |keys × bins| rows (or zero scans from stored partials via
    * [[jsdFromCounts]]); everything after is tiny-frame algebra.
    */
  def jsdDrift(df: DataFrame, keys: Seq[String],
               valueCol: org.apache.spark.sql.Column,
               isRef: org.apache.spark.sql.Column,
               bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(floor((valueCol - lit(lo)) / lit(width)),
      lit(0L)), lit((bins - 1).toLong)).cast("int")
    // rows with a NULL window flag belong to NEITHER window (the SQL
    // oracle's CASE WHEN / CASE WHEN NOT counts them in neither total) —
    // filter them out so engine and oracle agree (r12 ADVICE, battery-wide)
    val counts = df.filter(isRef.isNotNull)
      .groupBy((keys.map(col) :+ bin.as("bin")): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("ref_n"),
        sum(when(isRef, 0L).otherwise(1L)).as("det_n"))
    jsdFromCounts(counts, keys, bins)
  }

  /** JSD from a stored per-(keys, bin) count frame (`bin`, `ref_n`,
    * `det_n`) — the zero-scan fold over the SAME mergeable partials as
    * [[psiFromCounts]], so a monitoring job scores PSI + KS + W1 + JSD
    * from one count store without touching raw data.
    */
  def jsdFromCounts(counts0: DataFrame, keys: Seq[String],
                    bins: Int): DataFrame = {
    // input may carry UNMERGED stored partials (several rows per
    // (keys, bin) cell — the documented "fold the new window's counts
    // into the store" usage); merge them first so smoothing / cumsums
    // apply once per cell, not once per partial row (r12 ADVICE). Same
    // grouping keys as the producing aggregate, so no extra exchange
    // when the input is already merged.
    val counts = counts0.groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    val grid = counts.select(keys.map(col): _*).distinct()
      .withColumn("bin", explode(sequence(lit(0), lit(bins - 1))))
    val filled = grid.join(counts, keys :+ "bin", "left")
      .select((keys.map(col) :+ col("bin") :+
        coalesce(col("ref_n"), lit(0L)).as("ref_n") :+
        coalesce(col("det_n"), lit(0L)).as("det_n")): _*)
    val totals = filled.groupBy(keys.map(col): _*)
      .agg(sum("ref_n").as("_rt"), sum("det_n").as("_dt"))
    val p = (col("ref_n") + lit(0.5)) / (col("_rt") + lit(0.5 * bins))
    val q = (col("det_n") + lit(0.5)) / (col("_dt") + lit(0.5 * bins))
    val m = (p + q) / lit(2.0)
    filled.join(totals, keys)
      .groupBy(keys.map(col): _*)
      .agg(round(sum(p * log(p / m) + q * log(q / m)) / lit(2.0), 4)
          .as("jsd"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"))
  }

  /** Two-sample chi-square homogeneity drift per key group over a
    * CATEGORICAL column: χ² = Σ over (category, window) cells of
    * (observed − expected)²/expected, expected under the pooled
    * distribution. The standard drift test for categoricals, where
    * PSI/KS want an ordered value axis. One map-side-combined groupBy
    * to |keys × categories| rows; everything after is tiny-frame
    * algebra. Categories absent from one window contribute their full
    * expected mass (no grid completion needed — the observed 0 is a
    * real cell of the seen-category table). A null category is a real
    * cell too (missingness drift is drift), so dof counts GROUPED CELLS
    * minus one — `count(*) - 1` over the per-(key, category) frame, not
    * `countDistinct` (which skips nulls and would leave chi2 and dof
    * internally inconsistent whenever nulls are present).
    */
  def chiSquareDrift(df: DataFrame, keys: Seq[String],
                     categoryCol: org.apache.spark.sql.Column,
                     isRef: org.apache.spark.sql.Column): DataFrame = {
    val counts = df.filter(isRef.isNotNull)
      .groupBy((keys.map(col) :+ categoryCol.as("category")): _*)
      .agg(sum(when(isRef, 1L).otherwise(0L)).as("ref_n"),
        sum(when(isRef, 0L).otherwise(1L)).as("det_n"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val t = counts
      .withColumn("_rt", sum(col("ref_n")).over(wAll))
      .withColumn("_dt", sum(col("det_n")).over(wAll))
    val n = col("_rt") + col("_dt")
    val rowTot = col("ref_n") + col("det_n")
    def term(obs: org.apache.spark.sql.Column,
             winTot: org.apache.spark.sql.Column) = {
      val e = rowTot.cast("double") * winTot / n
      (obs - e) * (obs - e) / e
    }
    t.groupBy(keys.map(col): _*)
      .agg(round(sum(term(col("ref_n"), col("_rt"))
          + term(col("det_n"), col("_dt"))), 4).as("chi2"),
        (count(lit(1)) - 1).as("dof"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"))
  }

  /** Drift for VECTOR features: cosine and L2 distance between the
    * reference and detection windows' mean embeddings, per key group.
    * Scalar drift tests see nothing when a vector population rotates
    * while every coordinate's marginal stays put; the centroid distance
    * is the standard first-order signal for embedding drift (retrieval
    * recall decay, encoder version skew).
    *
    * Scale shape: one posexplode + one map-side-combined groupBy to
    * |keys × dim| rows; the distance fold runs over that tiny frame.
    * The per-(key, dim) sums/counts are mergeable partials, same as
    * [[psiFromCounts]] — a stored-partial variant is the same fold.
    */
  def embeddingCentroidDrift(df: DataFrame, keys: Seq[String],
                             vecCol: String,
                             isRef: org.apache.spark.sql.Column)
      : DataFrame = {
    val exploded = df
      .select((keys.map(col) :+ isRef.as("_ref") :+
        posexplode(col(vecCol)).as(Seq("dim", "_v")): _*))
      .withColumn("_v", col("_v").cast("double"))
    val means = exploded.groupBy((keys.map(col) :+ col("dim")): _*)
      .agg(avg(when(col("_ref"), col("_v"))).as("mr"),
        avg(when(!col("_ref"), col("_v"))).as("md"),
        // vector counts, counted once at dim 0 so they survive the fold
        sum(when(col("_ref") && col("dim") === 0, 1L)
          .otherwise(0L)).as("nr"),
        sum(when(!col("_ref") && col("dim") === 0, 1L)
          .otherwise(0L)).as("nd"))
    means.groupBy(keys.map(col): _*)
      .agg(round(lit(1.0) - sum(col("mr") * col("md"))
          / (sqrt(sum(col("mr") * col("mr")))
             * sqrt(sum(col("md") * col("md")))), 4).as("cos_dist"),
        round(sqrt(sum((col("mr") - col("md"))
          * (col("mr") - col("md")))), 4).as("l2_dist"),
        sum(col("nr")).as("ref_total"),
        sum(col("nd")).as("det_total"))
  }

  /** Robust per-key anomaly summary: exact lower median and MAD (median
    * absolute deviation, the robust σ) per key group, and the count of
    * rows whose rounded deviation exceeds `k`·MAD — the outlier gate
    * that survives the outliers it hunts (mean/stddev gates move with
    * every anomaly they should flag; medians don't). Deviations are
    * rounded to `devDecimals` so BOTH median passes run over bounded
    * (key, value, count) tables ([[Splits.lowerMedianByKey]] contract).
    *
    * Scale shape: two map-side-combined data passes (value counts, then
    * deviation counts); the medians, the MAD, and the final summary all
    * fold over those tiny count frames — the summary reads the cached
    * deviation-count frame, never the data again.
    */
  def robustAnomalySummary(df: DataFrame, keys: Seq[String],
                           valueCol: org.apache.spark.sql.Column,
                           k: Double = 3.0,
                           devDecimals: Int = 2): DataFrame = {
    val base = df.filter(valueCol.isNotNull)
      .select((keys.map(col) :+ valueCol.cast("double").as("_val")): _*)
    val med = Splits.lowerMedianByKey(base, keys, col("_val"))
      .withColumnRenamed("median", "_med")
    val devCounts = base.join(med, keys)
      .withColumn("_v", round(abs(col("_val") - col("_med")), devDecimals))
      .groupBy((keys.map(col) :+ col("_v")): _*)
      .agg(count(lit(1)).as("_c"), max(col("_med")).as("_med"))
      // consumed twice (MAD fold + summary) — tiny, but its lineage is a
      // full data pass. Eager pin (Materialize policy) instead of cache: same
      // one-pass guarantee, but the blocks are reclaimed by the context
      // cleaner when the frame is dropped, so repeated calls in a
      // long-lived monitoring session can't accumulate pinned cache
      // entries (cache() registrations live until an explicit unpersist,
      // which a lazily-returned result can never safely schedule)
      .pinned()
    val mad = Splits.lowerMedianFromCounts(
        devCounts.select((keys.map(col) :+ col("_v") :+ col("_c")): _*),
        keys)
      .withColumnRenamed("median", "_mad")
    devCounts.join(mad, keys)
      .groupBy(keys.map(col): _*)
      .agg(max(col("_med")).as("median"),
        max(col("_mad")).as("mad"),
        sum(when(col("_v") > lit(k) * col("_mad"), col("_c"))
          .otherwise(0L)).as("n_anomalies"),
        sum(col("_c")).as("n"))
  }

  // -- persistence (configs + result log under a warehouse dir) -----------

  final class MonitoringEngine(spark: SparkSession, warehouseDir: String) {

    import graft.catalog.JsonFields._

    private val docs = new graft.catalog.DocumentStore(spark, warehouseDir)
    private val Kind = "monitoring/configs"
    private def resultsDir = s"$warehouseDir/_monitoring/results"

    def saveConfig(cfg: MonitoringConfig): Unit =
      docs.put(Kind, cfg.name,
        ("name" -> cfg.name) ~ ("featureGroup" -> cfg.featureGroup) ~
          ("version" -> cfg.version) ~ ("feature" -> cfg.feature) ~
          ("eventTimeCol" -> cfg.eventTimeCol) ~
          ("detection" -> windowJson(cfg.detection)) ~
          ("reference" -> cfg.reference.map(windowJson)) ~
          ("referenceValue" -> cfg.referenceValue) ~
          ("metric" -> cfg.comparison.metric) ~
          ("threshold" -> cfg.comparison.threshold) ~
          ("relative" -> cfg.comparison.relative) ~
          ("strict" -> cfg.comparison.strict) ~
          ("bins" -> cfg.comparison.bins) ~
          ("lo" -> cfg.comparison.lo) ~
          ("hi" -> cfg.comparison.hi) ~
          ("everyMillis" -> cfg.schedule.everyMillis) ~
          ("startMillis" -> cfg.schedule.startMillis) ~
          ("enabled" -> cfg.enabled))

    private def windowJson(w: WindowSpec): JValue =
      ("sizeMillis" -> w.sizeMillis) ~ ("offsetMillis" -> w.offsetMillis) ~
        ("rowPercentage" -> w.rowPercentage)

    private def windowFrom(j: JValue): WindowSpec = WindowSpec(
      sizeMillis = lng(j \ "sizeMillis"),
      offsetMillis = lng(j \ "offsetMillis").getOrElse(0L),
      rowPercentage = dbl(j \ "rowPercentage").getOrElse(1.0))

    private def cfgFrom(j: JValue): MonitoringConfig =
      MonitoringConfig(
        name = str(j \ "name").getOrElse(""),
        featureGroup = str(j \ "featureGroup").getOrElse(""),
        version = lng(j \ "version").getOrElse(1L).toInt,
        feature = str(j \ "feature").getOrElse(""),
        eventTimeCol = str(j \ "eventTimeCol").getOrElse(""),
        detection = windowFrom(j \ "detection"),
        reference = (j \ "reference") match {
          case JNothing | JNull => None
          case w => Some(windowFrom(w)) },
        referenceValue = dbl(j \ "referenceValue"),
        comparison = ComparisonSpec(
          metric = str(j \ "metric").getOrElse(""),
          threshold = dbl(j \ "threshold").getOrElse(0.0),
          relative = bool(j \ "relative").getOrElse(false),
          strict = bool(j \ "strict").getOrElse(false),
          bins = lng(j \ "bins").getOrElse(10L).toInt,
          lo = dbl(j \ "lo").getOrElse(0.0),
          hi = dbl(j \ "hi").getOrElse(1.0)),
        schedule = ScheduleSpec(
          everyMillis = lng(j \ "everyMillis").getOrElse(0L),
          startMillis = lng(j \ "startMillis").getOrElse(0L)),
        enabled = bool(j \ "enabled").getOrElse(true))

    def getConfig(name: String): Option[MonitoringConfig] =
      docs.get(Kind, name).map(cfgFrom)

    def listConfigs(): Seq[MonitoringConfig] = docs.ids(Kind).flatMap(getConfig)

    def deleteConfig(name: String): Unit = docs.delete(Kind, name)

    /** Persisted result log (parquet append). */
    def results(): DataFrame = {
      val p = new Path(resultsDir)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
        import spark.implicits._
        Seq.empty[MonitoringResult].toDF()
      } else spark.read.parquet(resultsDir)
    }

    private def lastRun(name: String): Option[Long] = {
      val df = results()
      if (df.isEmpty) None
      else {
        val r = df.filter(col("configName") === name)
          .agg(max(col("executedAt"))).collect().head
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }

    /** Configs whose schedule fires at `nowMillis`: enabled, past their
      * start, and at least `everyMillis` since the last recorded run.
      */
    def due(nowMillis: Long): Seq[MonitoringConfig] =
      listConfigs().filter { c =>
        c.enabled && nowMillis >= c.schedule.startMillis &&
          lastRun(c.name).forall(_ + c.schedule.everyMillis <= nowMillis)
      }

    /** Run every due config against its data and append the results. */
    def runDue(nowMillis: Long,
               dataFor: MonitoringConfig => DataFrame): Seq[MonitoringResult] = {
      val fired = due(nowMillis).map(c => run(spark, dataFor(c), c, nowMillis))
      if (fired.nonEmpty) {
        import spark.implicits._
        fired.toDF().coalesce(1).write.mode("append").parquet(resultsDir)
      }
      fired
    }
  }

  // -------------------------------------------------------------------
  // Incremental distinct-count monitoring via HLL sketches
  // -------------------------------------------------------------------

  /** One HLL sketch per time window over `valueCol` — the MERGEABLE form
    * of a distinct count. At 100 TB the win is incremental maintenance:
    * sketch each new window (or commit) ONCE as it lands, persist the
    * ~KB-sized binaries, and answer "distinct users over any window
    * range" by unioning sketches — never by rescanning history the way a
    * COUNT(DISTINCT) over a rolling window must. Sketches are
    * deterministic (no RNG), so estimates are reproducible.
    *
    * @param timeCol   event-time column — integral epoch (any unit) or a
    *                  timestamp; type-dispatched, so the operator survives
    *                  a writer switching between int64 epochs and
    *                  timestamp[us] parquet
    * @param unitsPerWindow window width in `timeCol`'s own unit for
    *                  integral columns, in MICROS for timestamp columns
    * @return (window, sketch) — one row per occupied window
    */
  def distinctSketches(df: DataFrame, timeCol: String, valueCol: String,
                       unitsPerWindow: Long): DataFrame = {
    // integral `div`, NOT double division: epoch nanos (~1.7e18) exceed
    // a double's 2^53 exact range, so `/` + cast misplaces events within
    // ~128 ns of a window boundary
    val dt = df.schema(timeCol).dataType
    val ticks = dt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        graft.functions.TimeFunctions.eventTimeToMicros(col(timeCol), dt)
      case _ => expr(s"CAST($timeCol AS BIGINT)")
    }
    df.groupBy(call_function("div", ticks, lit(unitsPerWindow)).as("window"))
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))
  }

  /** Union the sketches of windows in `[fromWindow, toWindow]` and
    * estimate the distinct count — one tiny scan over persisted sketch
    * rows, zero touches of the underlying data.
    */
  def estimateDistinct(sketches: DataFrame,
                       fromWindow: Long, toWindow: Long): Long = {
    val row = sketches.filter(col("window").between(fromWindow, toWindow))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      .head
    // zero sketch rows in range → NULL union → 0 distinct, not an NPE
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Calibration (reliability) bins for a deployed model's scores: cut
    * `[0, 1)` into `bins` equal cells and report, per cell, the count,
    * the mean predicted score, and the observed positive rate — the
    * table behind a reliability diagram and the ECE metric, i.e. "does
    * a 0.8 score win 80% of the time". This is model-quality
    * monitoring, one step past the reference's feature-drift metrics
    * (python/hsfs/core/feature_monitoring_config_engine.py) — the same
    * scheduled-monitoring shape, applied to predictions.
    *
    * One map-side-combined groupBy to a ≤ `bins`-row frame; exact
    * integer counts, divisions rounded at 6 (the repo's float-oracle
    * convention). Scores outside [0, 1) clamp into the edge cells;
    * null scores/labels are excluded listwise.
    */
  /** Feature freshness audit: per key group, the latest event time, its
    * age at `nowMillis`, and whether the age violates `slaMillis` — the
    * first thing an on-call checks when a feature group goes stale
    * (the reference tracks commit times, core/feature_group_engine.py,
    * but has no SLA evaluation over them). One map-side-combined
    * groupBy; pure integer millisecond arithmetic, replayable.
    */
  def freshness(df: DataFrame, keys: Seq[String], eventTimeCol: String,
                nowMillis: Long, slaMillis: Long): DataFrame = {
    require(slaMillis > 0, "slaMillis must be positive")
    val et = Splits.eventTimeMillisCol(df, eventTimeCol)
    df.filter(et.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(max(et).as("latest_ms"),
        count(lit(1)).as("n"))
      .withColumn("age_ms", lit(nowMillis) - col("latest_ms"))
      .withColumn("sla_violated", col("age_ms") > lit(slaMillis))
  }

  /** Expected calibration error: the bin-weighted mean gap between
    * predicted score and observed rate over the [[calibrationBins]]
    * table — the single-number summary of a reliability diagram
    * (Naeini 2015's ECE, public method). Folds the ≤`bins`-row bin
    * frame; the only data-sized work is the bins' own grouped pass.
    */
  def expectedCalibrationError(df: DataFrame,
                               scoreCol: org.apache.spark.sql.Column,
                               labelCol: org.apache.spark.sql.Column,
                               bins: Int): DataFrame = {
    val b = calibrationBins(df, scoreCol, labelCol, bins)
    b.agg(
      round(sum(col("n").cast("double") *
          abs(col("mean_score") - col("pos_rate"))) /
        sum(col("n").cast("double")), 6).as("ece"),
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_bins"))
  }

  def calibrationBins(df: DataFrame, scoreCol: org.apache.spark.sql.Column,
                      labelCol: org.apache.spark.sql.Column,
                      bins: Int): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val bin = least(greatest(
      floor(scoreCol.cast("double") * bins), lit(0.0)),
      lit((bins - 1).toDouble)).cast("int")
    df.filter(scoreCol.isNotNull && labelCol.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(scoreCol.cast("double")) / count(lit(1)), 6)
          .as("mean_score"),
        round(sum(labelCol.cast("long")).cast("double") / count(lit(1)), 6)
          .as("pos_rate"))
  }
}
