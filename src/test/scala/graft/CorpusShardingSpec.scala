package graft

import graft.ops.{Dedup, Sharding, Splits}
import org.apache.spark.sql.functions._

/** Corpus-scale dedup clustering, decontamination, sharding, and
  * deterministic sampling.
  */
class CorpusShardingSpec extends SparkSpec {
  import spark.implicits._

  test("duplicateClusters collapses a path graph to one component") {
    // a 40-node chain is the adversarial case for min-label propagation
    // (needs 40 rounds); alternating star must converge logarithmically
    // inside the default maxIter
    val pairs = (0 until 39).map(i => (i.toLong, i.toLong + 1))
      .toDF("idA", "idB")
    val cc = Dedup.duplicateClusters(pairs).collect()
    assert(cc.length == 40)
    assert(cc.forall(_.getLong(1) == 0L))
  }

  test("duplicateClusters separates components and picks min ids") {
    val pairs = Seq((5L, 3L), (3L, 9L), (100L, 42L)).toDF("idA", "idB")
    val cc = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 42L -> 42L, 100L -> 42L))
  }

  test("duplicateClusters drops self-pairs and handles empty input") {
    val self = Seq((7L, 7L)).toDF("idA", "idB")
    assert(Dedup.duplicateClusters(self).count() == 0)
    val empty = Seq.empty[(Long, Long)].toDF("idA", "idB")
    assert(Dedup.duplicateClusters(empty).count() == 0)
  }

  test("duplicateClusters works on string ids (lexicographic min)") {
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("zz", "yy"))
      .toDF("idA", "idB")
    val cc = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "yy" -> "yy", "zz" -> "yy"))
  }

  test("deduplicateByClusters keeps the component minimum per cluster") {
    val corpus = (0L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("idA", "idB")
    val clusters = Dedup.duplicateClusters(pairs)
    val kept = Dedup.deduplicateByClusters(corpus, "doc_id", clusters)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 4L, 5L, 6L, 7L, 9L))
  }

  test("contaminationOverlap flags probe n-gram overlap; decontaminate drops") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta unrelated tail"),
      (2L, "completely different words here entirely"),
      (3L, "alpha beta gamma appears here too")).toDF("doc_id", "text")
    val probe = Seq(Tuple1("the probe has alpha beta gamma inside")).toDF("text")
    val overlap = Dedup.contaminationOverlap(corpus, "doc_id", "text",
        probe, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(overlap.contains(1L) && overlap.contains(3L) && !overlap.contains(2L))
    val clean = Dedup.decontaminate(corpus, "doc_id", "text", probe, "text",
      n = 3, minOverlap = 1)
    assert(clean.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("topFractionByGroup keeps each group's top slice with ties") {
    // group a: scores 1..10 (top 30% -> exact-percentile threshold 7.3
    //          -> keep 8, 9, 10); group b: all equal -> everything ties
    //          at the threshold and survives
    val df = ((1 to 10).map(i => ("a", i.toLong, s"a$i")) ++
      (1 to 4).map(i => ("b", 5L, s"b$i"))).toDF("g", "score", "id")
    val kept = Splits.topFractionByGroup(df, "g", "score", 0.3, exact = true)
      .select("id").collect().map(_.getString(0)).toSet
    assert(kept === Set("a8", "a9", "a10", "b1", "b2", "b3", "b4"))
    // fraction 1.0 is the identity
    assert(Splits.topFractionByGroup(df, "g", "score", 1.0).count() === 14)
    // approx path agrees on this tiny input
    val approx = Splits.topFractionByGroup(df, "g", "score", 0.3)
      .select("id").collect().map(_.getString(0)).toSet
    assert(approx.filter(_.startsWith("b")) === Set("b1", "b2", "b3", "b4"))
  }

  test("topFractionByGroup survives hostile column names and _graft_thr0") {
    // a score column needing backticks AND a pre-existing column named
    // like the internal threshold must neither break parsing nor collide
    val df = ((1 to 10).map(i => ("a", i.toLong, 99L)) ++
      (1 to 4).map(_ => ("b", 5L, 99L)))
      .toDF("g", "the score", "_graft_thr0")
    val kept = Splits.topFractionByGroup(df, "g", "the score", 0.3,
      exact = true)
    assert(kept.columns.toSeq === Seq("g", "the score", "_graft_thr0"))
    assert(kept.count() === 7)
    assert(kept.select("_graft_thr0").distinct().as[Long].collect()
      .toSeq === Seq(99L), "caller's column must pass through untouched")
  }

  test("topFractionByGroup drops the broadcast hint above the group cap") {
    val df = (0 until 2000).map(i => (s"g$i", i.toLong)).toDF("g", "score")
    // the optimizer folds broadcast() into the Join node's JoinHint
    def hasBroadcastHint(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if (j.hint.leftHint.toSeq ++ j.hint.rightHint.toSeq)
              .flatMap(_.strategy)
              .exists(_.toString.toLowerCase.contains("broadcast")) => j
      }.nonEmpty
    // low-cardinality groups (default cap): threshold table broadcasts
    val few = (0 until 100).map(i => (s"g${i % 3}", i.toLong))
      .toDF("g", "score")
    assert(hasBroadcastHint(Splits.topFractionByGroup(few, "g", "score", 0.5)))
    // per-row group column above the cap: hint dropped, AQE decides
    assert(!hasBroadcastHint(
      Splits.topFractionByGroup(df, "g", "score", 0.5,
        maxBroadcastGroups = 500)))
    // cap 0 skips the cardinality probe and never broadcasts
    assert(!hasBroadcastHint(
      Splits.topFractionByGroup(few, "g", "score", 0.5,
        maxBroadcastGroups = 0)))
    // results are identical either way
    val a = Splits.topFractionByGroup(few, "g", "score", 0.5)
      .select("score").as[Long].collect().sorted.toSeq
    val b = Splits.topFractionByGroup(few, "g", "score", 0.5,
        maxBroadcastGroups = 0)
      .select("score").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("resampleToMix hits the target mix with an identity hash") {
    // ids double as the hash value (hash % 1e6 = id), so keep decisions
    // are exact: a has 6 rows, b has 2; 50/50 target -> cap = min(12, 4)
    // = 4 -> frac a = 1/3 (thr 333333), b = 1 (thr 1000000)
    val df = Seq(
      (0L, "a"), (200000L, "a"), (400000L, "a"),
      (600000L, "a"), (800000L, "a"), (999999L, "a"),
      (100L, "b"), (500000L, "b"),
      (42L, "c")) // not in the target mix -> dropped
      .toDF("id", "g")
    val kept = Splits.resampleToMix(df, "id", "g",
        Map("a" -> 0.5, "b" -> 0.5), hashFn = c => c.cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === Set((0L, "a"), (200000L, "a"), (100L, "b"),
      (500000L, "b")))
    // a target category with zero rows must fail loudly, not emit empty
    val err = intercept[IllegalArgumentException] {
      Splits.resampleToMix(df, "id", "g", Map("a" -> 0.5, "zz" -> 0.5))
    }
    assert(err.getMessage.contains("zz"))
  }

  test("lowerMedian gate matches the interpolating percentile gate") {
    // odd count, even count, and heavy ties: the <= gate on the lower
    // median must keep exactly the rows the interpolating median keeps
    for (values <- Seq(
        Seq(1.0, 2.0, 3.0),                       // odd
        Seq(1.0, 2.0, 3.0, 4.0),                  // even, distinct middles
        Seq(1.0, 2.0, 2.0, 4.0),                  // even, tied middles
        Seq(5.0, 5.0, 5.0, 5.0),                  // all tied
        Seq(0.1234, 0.1234, 0.5678, 0.9999, 0.9999))) {
      val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "score")
      val lm = Splits.lowerMedian(df, "score")
      val interp = df.selectExpr("percentile(score, 0.5) AS t")
        .head.getDouble(0)
      val a = df.filter(col("score") <= lm).select("id")
        .as[Long].collect().toSet
      val b = df.filter(col("score") <= interp).select("id")
        .as[Long].collect().toSet
      assert(a === b, s"gate sets differ for $values (lm=$lm interp=$interp)")
    }
    // nulls are ignored, empty frames fail loudly
    val withNull = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "score")
    assert(Splits.lowerMedian(withNull, "score") === 1.0)
    intercept[IllegalArgumentException] {
      Splits.lowerMedian(withNull.filter(col("id") < 0), "score")
    }
    // the bounded-cardinality contract fails loudly, not OOM
    val wide = (0 until 100).map(i => (i.toLong, i / 1000.0)).toDF("id", "score")
    intercept[IllegalArgumentException] {
      Splits.lowerMedian(wide, "score", maxDistinct = 10)
    }
  }

  test("resampleToMix binding group keeps EVERY row despite float error") {
    // w=0.07 with n=21: w*(n/w)/n = 0.9999999999999998 in IEEE doubles —
    // without snapping, the threshold floors to scale-1 and rows whose
    // hash lands exactly on scale-1 are dropped from the group documented
    // as "keeps everything". Force every row onto that worst-case hash.
    val df = (0 until 21).map(i => (i.toLong, "g")).toDF("id", "g")
    val kept = Splits.resampleToMix(df, "id", "g", Map("g" -> 0.07),
      hashFn = _ => lit(999999L))
    assert(kept.count() === 21L, "binding group must keep everything")
  }

  test("tokenBudgetBins matches a single-window prefix sum") {
    val n = 500
    val df = (0 until n).map { i =>
      (i.toLong, (i * 37 % 113 + 1).toLong)
    }.toDF("id", "tokens")
    // pseudo-random but deterministic order key in [0, 2^52)
    val ok = pmod(xxhash64(col("id")), lit(1L << 52))
    val got = Sharding.tokenBudgetBins(df, "id", "tokens",
        budget = 1000L, orderKeyCol = ok, nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val keys = df.select(col("id"), col("tokens"), ok.as("ok"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    var cum = 0L
    val expected = keys.map { case (_, id, tok) =>
      val bin = cum / 1000L; cum += tok; id -> bin
    }.toMap
    assert(got == expected)
    assert(got.values.max > 5, "expected multiple bins")
  }

  test("tokenBudgetBinsPerSplit = one tokenBudgetBins per filtered split") {
    val n = 400
    val df = (0 until n).map { i =>
      (i.toLong, (i * 37 % 113 + 1).toLong, s"g${i % 57}")
    }.toDF("id", "tokens", "grp")
    val spec = Splits.GroupSplit("grp",
      Seq("train" -> 0.7, "test" -> 0.2, "validation" -> 0.1))
    val ok = pmod(xxhash64(col("id")), lit(1L << 52))
    val labeled = Splits.groupedLabeled(df, spec)
    // the labeled column partitions exactly like the map form
    val mapForm = Splits.grouped(df, spec)
    mapForm.foreach { case (name, d) =>
      assert(labeled.filter(col("split") === name).select("id")
        .as[Long].collect().toSet === d.select("id").as[Long].collect().toSet,
        s"split $name")
    }
    // and the one-pass bins equal the per-split bins
    val onePass = Sharding.tokenBudgetBinsPerSplit(labeled, "split", "id",
        "tokens", budget = 300L, orderKeyCol = ok, nBuckets = 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val perSplit = mapForm.toSeq.flatMap { case (name, d) =>
      Sharding.tokenBudgetBins(d, "id", "tokens", budget = 300L,
          orderKeyCol = ok, nBuckets = 8)
        .collect().map(r => (name, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(onePass === perSplit)
    assert(onePass.nonEmpty && onePass.values.max > 0)
  }

  test("tokenBudgetBins rejects bad budget and non-power-of-two buckets") {
    val df = Seq((1L, 10L)).toDF("id", "tokens")
    intercept[IllegalArgumentException] {
      Sharding.tokenBudgetBins(df, "id", "tokens", 0L, lit(0L))
    }
    intercept[IllegalArgumentException] {
      Sharding.tokenBudgetBins(df, "id", "tokens", 10L, lit(0L), nBuckets = 6)
    }
  }

  test("tokenBudgetBins enforces the order-key domain at runtime") {
    val df = (0 until 200).map(i => (i.toLong, 10L)).toDF("id", "tokens")
    // raw xxhash64 is signed 64-bit: negative keys must be rejected, not
    // silently binned out of range order
    val e = intercept[IllegalArgumentException] {
      Sharding.tokenBudgetBins(df, "id", "tokens", budget = 100L,
        orderKeyCol = xxhash64(col("id"))).collect()
    }
    assert(e.getMessage.contains("out of domain"))
    // the documented wrap passes and bins every row
    val ok = Sharding.tokenBudgetBins(df, "id", "tokens", budget = 100L,
      orderKeyCol = pmod(xxhash64(col("id")), lit(1L << 52)))
    assert(ok.count() === 200)
    // a key wider than keyBits is rejected too
    val wide = intercept[IllegalArgumentException] {
      Sharding.tokenBudgetBins(df, "id", "tokens", budget = 100L,
        orderKeyCol = lit(1L << 60)).collect()
    }
    assert(wide.getMessage.contains("out of domain"))
    // an all-null order key (e.g. a failed cast) must diagnose by name,
    // not NPE on the min/max getLong
    val nul = intercept[IllegalArgumentException] {
      Sharding.tokenBudgetBins(df, "id", "tokens", budget = 100L,
        orderKeyCol = lit(null).cast("long")).collect()
    }
    assert(nul.getMessage.contains("NULL"))
  }

  test("stratifiedDeterministic is reproducible, subset, and on-fraction") {
    val df = (0 until 4000).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b")
    }.toDF("id", "stratum")
    val fr = Map("a" -> 0.5, "b" -> 0.1)
    val s1 = Splits.stratifiedDeterministic(df, "id", "stratum", fr)
      .select("id").as[Long].collect().sorted.toSeq
    val s2 = Splits.stratifiedDeterministic(df, "id", "stratum", fr)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 == s2, "same input must sample identically")
    val byStratum = Splits.stratifiedDeterministic(df, "id", "stratum", fr)
      .groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byStratum("a") - 1000.0) < 100,
      s"a: ${byStratum("a")} not ~1000")
    assert(math.abs(byStratum("b") - 200.0) < 70,
      s"b: ${byStratum("b")} not ~200")
  }

  test("groupedDeterministic partitions rows and never splits a group") {
    val df = (0 until 3000).map { i =>
      (i.toLong, (i / 3).toLong)  // groups of 3 rows
    }.toDF("id", "grp")
    val splits = Splits.groupedDeterministic(df, "grp",
      Seq("train" -> 0.7, "test" -> 0.2, "validation" -> 0.1))
    val counts = splits.map { case (k, v) => k -> v.count() }
    assert(counts.values.sum == 3000, "splits must partition the input")
    // group atomicity: each group id appears in exactly one split
    val grpSets = splits.map { case (_, v) =>
      v.select("grp").distinct().as[Long].collect().toSet
    }.toSeq
    assert(grpSets.combinations(2).forall { case Seq(a, b) =>
      a.intersect(b).isEmpty
    }, "a group must never straddle splits")
    // weights approximately honored (hash-uniform over 1000 groups)
    assert(math.abs(counts("train") - 2100.0) < 250, counts.toString)
    assert(math.abs(counts("test") - 600.0) < 200, counts.toString)
  }

  test("groupedDeterministic assignment is stable under corpus growth") {
    val small = (0 until 500).map(i => (i.toLong, i.toLong % 100))
      .toDF("id", "grp")
    val big = (0 until 1000).map(i => (i.toLong, i.toLong % 100))
      .toDF("id", "grp")
    val w = Seq("train" -> 0.8, "test" -> 0.2)
    val before = Splits.groupedDeterministic(small, "grp", w)("train")
      .select("id").as[Long].collect().toSet
    val after = Splits.groupedDeterministic(big, "grp", w)("train")
      .select("id").as[Long].collect().toSet
    assert(before.subsetOf(after),
      "rows must not migrate between splits when new data arrives")
  }

  test("stratifiedDeterministic drops strata absent from fractions") {
    val df = Seq((1L, "keep"), (2L, "keep"), (3L, "drop"))
      .toDF("id", "stratum")
    val out = Splits.stratifiedDeterministic(df, "id", "stratum",
      Map("keep" -> 1.0))
    assert(out.select("stratum").distinct().as[String].collect().toSeq
      == Seq("keep"))
    assert(out.count() == 2)
  }

  test("repeatedSpans flags cross-document k-token spans only") {
    val docs = Seq(
      (1L, "a b c d e"),      // spans: "a b c" "b c d" "c d e"
      (2L, "x a b c d y"),    // shares "a b c" and "b c d" with doc 1
      (3L, "q w"),            // shorter than k -> zero spans
      (4L, "z z z z"))        // within-doc repeat only -> NOT cross-doc
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) === (3L, 2L, 0.6667))
    assert(got(2L) === (4L, 2L, 0.5))
    assert(got(3L) === (0L, 0L, 0.0))
    assert(got(4L) === (2L, 0L, 0.0),
      "a span repeated only within one document must not count")
  }

  test("stripRepeatedSpans drops covered tokens, keeps order, merges overlaps") {
    val docs = Seq(
      (1L, "a b c d e x1", "m1"),   // "a b c"@1 + "b c d"@2 cover 1..4
      (2L, "z a b c d y", "m2"),    // "a b c"@2 + "b c d"@3 cover 2..5
      (3L, "p q r", "m3"),          // unique span -> untouched
      (4L, "a b", "m4"),            // shorter than k -> no spans
      (5L, "  a   b  ", "m5"))      // whitespace-normalized only
      .toDF("doc_id", "text", "meta")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text",
        k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(got(1L) === ("e x1", "m1"))
    assert(got(2L) === ("z y", "m2"))
    assert(got(3L) === ("p q r", "m3"), "a unique span must survive")
    assert(got(4L) === ("a b", "m4"), "sub-k documents pass through")
    assert(got(5L) === ("a b", "m5"), "rebuild normalizes whitespace")
  }

  test("stripRepeatedSpans strips a fully duplicated document to empty") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),
      (3L, "totally different words here indeed friend"))
      .toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text",
        k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "" && got(2L) === "")
    assert(got(3L) === "totally different words here indeed friend")
  }

  test("dedupAgainstHistory = exact batch-minus-history, bloom is cost-only") {
    val history = Seq("a b", "c d").map(Tuple1(_)).toDF("text")
    val batch = Seq(
      (1L, "a b"),      // verbatim duplicate
      (2L, "A  B"),     // case/whitespace variant -> same fingerprint
      (3L, "new doc"),
      (4L, "c d"),
      (5L, "e f"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstHistory(batch, history, "text",
      expectedItems = 100L)
    assert(got.columns.toSeq === Seq("doc_id", "text"))
    assert(got.select("doc_id").as[Long].collect().toSet === Set(3L, 5L))
    // the bloom side never false-negatives: every history fingerprint
    // must probe true through the same expression the pre-filter uses
    val fps = history
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    val bloom = fps.stat.bloomFilter("fp", 100L, 0.03)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val hits = fps.filter(
      graft.functions.BloomFunctions.mightContain(col("fp"), bos.toByteArray))
    assert(hits.count() === 2L)
  }

  test("dedupAgainstHistory scans history once and evaluates the batch once") {
    val sc = spark.sparkContext
    val histScans = sc.longAccumulator("histScans")
    val batchEvals = sc.longAccumulator("batchEvals")
    val histDf = sc.parallelize((1 to 100).map(i => s"hist doc $i"), 4)
      .mapPartitions { it => histScans.add(1); it }.toDF("text")
    val batchDf = sc.parallelize((1 to 50).map(i => s"batch doc $i"), 4)
      .mapPartitions { it => batchEvals.add(1); it }.toDF("text")
    val out = Dedup.dedupAgainstHistory(batchDf, histDf, "text",
      expectedItems = 1000L)
    assert(out.count() === 50L)
    // 4 partitions each: one scan for the persisted fingerprint build
    // (bloom action populates the cache the anti-join then reads), one
    // batch evaluation at the checkpoint (the bloom split's two branches
    // read the checkpoint, not the lineage)
    assert(histScans.value === 4L,
      s"history scanned ${histScans.value / 4} times, want 1")
    assert(batchEvals.value === 4L,
      s"batch evaluated ${batchEvals.value / 4} times, want 1")
    // and the result stays exact
    assert(out.as[String].collect().toSet ===
      (1 to 50).map(i => s"batch doc $i").toSet)
  }

  test("nondeterministic batch input is neither dropped nor duplicated") {
    // a rand-gated batch evaluated independently per bloom branch could
    // emit different row sets on each side; the checkpoint pins ONE
    // evaluation, so repeated consumption of the result is stable
    val batch = spark.range(2000)
      .select(concat(lit("doc "), col("id")).as("text"))
      .filter(rand(7) < 0.5)
    val history = spark.range(100)
      .select(concat(lit("doc "), col("id")).as("text"))
    val out = Dedup.dedupAgainstHistory(batch, history, "text",
      expectedItems = 10000L).cache()
    val n1 = out.count()
    assert(out.select("text").distinct().count() === n1, "no duplicates")
    assert(out.count() === n1, "stable across consumptions")
    assert(out.filter(col("text").isin((0 until 100)
      .map(i => s"doc $i"): _*)).count() === 0L, "history rows removed")
  }

  test("dedupAgainstHistoryFingerprints skips the history scan") {
    val history = Seq("a b", "c d").map(Tuple1(_)).toDF("text")
    val store = history
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct()
    val batch = Seq((1L, "A  b"), (2L, "x y"), (3L, "c d"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstHistoryFingerprints(batch, store, "fp",
      "text", expectedItems = 100L)
    assert(got.select("doc_id").as[Long].collect().toSet === Set(2L))
    assert(got.columns.toSeq === Seq("doc_id", "text"))
  }

  test("duplicateClusters still converges with the lazy checkpoint loop") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 7L), (8L, 9L))
      .toDF("idA", "idB")
    val comp = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(4L) == 4L && comp(5L) == 4L)
    assert(comp(8L) == 8L && comp(9L) == 8L)
    assert(!comp.contains(7L), "self-pairs are not duplicate edges")
  }
}
