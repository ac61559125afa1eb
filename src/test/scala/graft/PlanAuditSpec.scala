package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanSummary

/** Guards the plan-audit tooling itself: PLANS.md exists to prove the
  * hot paths stay inside WholeStageCodegen, so the counter must read
  * the FINAL AQE plan (pre-AQE strings report 0 spans for every
  * shuffle/join/agg query) and every relational query must actually
  * keep at least one codegen span.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("suite invariants over the FULL query map: no CartesianProduct " +
      "and no partition-less Window in any final executed plan") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._

    // -- self-validate both detectors on deliberately-bad plans --
    val bad = Seq((1, "a"), (2, "b"), (3, "c")).toDF("x", "g")
    val badWin = SpecSupport.finalOperators(
      bad.withColumn("rn", row_number().over(W.orderBy($"x"))))
    assert(badWin.exists {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _             => false
    }, "detector failed to flag a known global window")
    val abjt = "spark.sql.autoBroadcastJoinThreshold"
    val aqeAbjt = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prev = (spark.conf.getOption(abjt), spark.conf.getOption(aqeAbjt))
    spark.conf.set(abjt, "-1"); spark.conf.set(aqeAbjt, "-1")
    val badCart =
      try SpecSupport.finalOperators(
        bad.join(Seq(7, 8).toDF("y"), $"x" < $"y", "inner"))
      finally {
        prev._1.fold(spark.conf.unset(abjt))(spark.conf.set(abjt, _))
        prev._2.fold(spark.conf.unset(aqeAbjt))(spark.conf.set(aqeAbjt, _))
      }
    assert(badCart.exists(_.isInstanceOf[CartesianProductExec]),
      "detector failed to flag a known cartesian product")

    // -- the invariants, over every registered query --
    // m0* excluded: imperative train/eval pipelines whose gate rows
    // are local relations, not single declarative plans (the PLANS.md
    // exclusion); everything else must uphold both invariants — a
    // CartesianProduct is quadratic at 100 TB, and a Window with an
    // empty partitionSpec is a single-reducer global sort (bounded
    // metadata-sized global tapes mark themselves with a constant
    // partition key, e.g. ly07, and are deliberately not flagged).
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("m0"))
    for (name <- names) {
      val ops = SpecSupport.finalOperators(
        SparkEntry.queries(name)(spark, sf))
      assert(!ops.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name: CartesianProduct in the executed plan")
      val global = ops.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty,
        s"$name: partition-less Window (single-reducer global sort)")
    }
  }

  test("every q-query keeps ≥1 WholeStageCodegen span in its final AQE plan") {
    val qs = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    assert(qs.size >= 19)
    for (name <- qs) {
      val plan = PlanSummary.finalPlanString(
        SparkEntry.queries(name)(spark, sf))
      assert(PlanSummary.wscSpans(plan) >= 1, s"$name lost codegen:\n$plan")
    }
  }

  test("pack runs on one shuffle; contamination join stays broadcast") {
    // t11_pack: the groupBy(source, pack_id) must reuse the window's
    // hashpartitioning(source) — a second Exchange means the
    // single-shuffle design regressed.
    val pack = PlanSummary.finalPlanString(
      SparkEntry.queries("t11_pack")(spark, sf))
    assert("Exchange".r.findAllIn(pack).length == 1,
      s"t11_pack shuffled more than once:\n$pack")
    // d07: the corpus-side join against eval shingles is hinted
    // broadcast — the 100 TB side must never shuffle for it.
    val cont = PlanSummary.finalPlanString(
      SparkEntry.queries("d07_decontaminate")(spark, sf))
    assert(cont.contains("BroadcastHashJoin"),
      s"d07 lost the broadcast join:\n$cont")
  }

  test("sp04 decides buckets via a broadcast prefix table; d08 prunes " +
      "with a bloom might_contain before its confirm join") {
    // sp04: the corpus rows must meet the per-bucket state table
    // through a broadcast join (full-keep rows never key-shuffle),
    // and only the edge branch may sort
    val cap = PlanSummary.finalPlanString(
      SparkEntry.queries("sp04_token_budget")(spark, sf))
    assert(cap.contains("BroadcastHashJoin"),
      s"sp04 lost the broadcast state join:\n$cap")
    // d08: the bloom gate must sit in the scan-side filter, i.e. the
    // plan carries might_contain before any join
    val bloom = PlanSummary.finalPlanString(
      SparkEntry.queries("d08_decontaminate_bloom")(spark, sf))
    assert(bloom.contains("might_contain"),
      s"d08 lost the bloom prune:\n$bloom")
  }

  test("round-6 plan shapes: e12 in-row, t14 broadcast hot set, " +
      "f05 single shuffle") {
    // e12: 16 projection kernels inside the scan stage — ANY exchange
    // means the in-row design regressed
    val jl = PlanSummary.finalPlanString(
      SparkEntry.queries("e12_random_projection")(spark, sf))
    assert(!jl.contains("Exchange"),
      s"e12 gained a shuffle:\n$jl")
    // t14: the ≤K-row hot-gram side and the per-doc covered sets must
    // meet their joins as broadcasts — the corpus never key-shuffles
    val strip = PlanSummary.finalPlanString(
      SparkEntry.queries("t14_boilerplate_strip")(spark, sf))
    assert(strip.contains("BroadcastHashJoin"),
      s"t14 lost its broadcast joins:\n$strip")
    assert(!strip.contains("SortMergeJoin"),
      s"t14 degraded to a sort-merge join:\n$strip")
    // f05: one (doc, bucket) hash aggregate — exactly one exchange
    val fh = PlanSummary.finalPlanString(
      SparkEntry.queries("f05_feature_hashing")(spark, sf))
    assert("Exchange".r.findAllIn(fh).length == 1,
      s"f05 shuffled more than once:\n$fh")
  }

  test("scan-side ANN top-k is the bounded heap aggregate, not a q_id window") {
    // e01/e13 (and the whole PQ family) rank with graft_topk: partial
    // ObjectHashAggregate on the scan side bounds the exchange to
    // |queries| × k rows per partition. A `Window` node here means the
    // corpus-sized shuffle into ≤|queries| reducers is back — the
    // round-6 audit's one scale-killer.
    // e22's per-cell quota pick shares the same rule: quota selection
    // must be the heap, never a per-cell window sort of the corpus.
    for (name <- Seq("e01_knn_brute", "e13_hamming_topk",
        "e11_pq_adc_topk", "e14_ivfpq_topk", "e15_ivfpq_residual",
        "e22_cluster_balanced_sample")) {
      val plan = PlanSummary.finalPlanString(
        SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("Window"),
        s"$name regressed to a window top-k:\n$plan")
      assert(plan.contains("graft_topk"),
        s"$name lost the bounded heap aggregate:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost map-side partial aggregation:\n$plan")
    }
  }

  test("bpe02 encode is a zero-shuffle in-row scan") {
    // The encode path is the 100 TB face of the BPE pack: the learned
    // rules fold into the plan as literal replace chains, so the doc
    // scan must stay exchange-free and codegen'd. An Exchange here
    // means encoding started shuffling the corpus.
    val plan = PlanSummary.finalPlanString(
      SparkEntry.queries("bpe02_encode_pieces")(spark, sf))
    assert(!plan.contains("Exchange"),
      s"bpe02 encode gained a shuffle:\n$plan")
    assert(PlanSummary.wscSpans(plan) >= 1,
      s"bpe02 encode lost codegen:\n$plan")
  }

  test("sp12 priority sample is a zero-exchange bounded-heap top-k") {
    // The contract that makes priority sampling a 100 TB primitive:
    // q = w/u rides in the scan stage and the only ordering is
    // TakeOrderedAndProject's (k+1)-bounded per-partition heap. An
    // Exchange (beyond TOP's own internal singlePartition collect)
    // or a Sort node means the corpus started shuffling/sorting.
    val plan = PlanSummary.finalPlanString(
      SparkEntry.queries("sp12_priority_sample")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"sp12 lost its bounded-heap top-k:\n$plan")
    assert(!plan.linesIterator.exists(l =>
        l.trim.startsWith("+- Sort") || l.trim.startsWith(":- Sort") ||
        l.trim.startsWith("Sort ")),
      s"sp12 gained a full Sort:\n$plan")
    assert(PlanSummary.wscSpans(plan) >= 1,
      s"sp12 lost codegen:\n$plan")
  }

  test("d19 intra-doc strip and t18 gopher rules are zero-shuffle in-row scans") {
    // Both are doc-local by design: d19's whole point vs d15 is that
    // within-doc dedup needs NO corpus-wide frequency, so any
    // Exchange means the doc-locality was lost; t18's rule stats are
    // per-row integer arithmetic.
    for (name <- Seq("d19_intra_doc_strip", "t18_gopher_rules")) {
      val plan = PlanSummary.finalPlanString(
        SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("Exchange"),
        s"$name gained a shuffle:\n$plan")
      assert(PlanSummary.wscSpans(plan) >= 1,
        s"$name lost codegen:\n$plan")
    }
  }

  test("round-13 plan shapes: aj03 is two window scans, ly07's window " +
      "is metadata-bound, t26 joins broadcast, no new cartesians") {
    // aj03: exactly the two union+window per-key scans its design
    // promises (backward + forward tolerant lookup), never a
    // range-join candidate fan-out
    val aj = PlanSummary.finalPlanString(
      SparkEntry.queries("aj03_asof_nearest")(spark, sf))
    assert(!aj.contains("CartesianProduct"), s"aj03 fan-out:\n$aj")
    // ONE shuffle for BOTH directions (asofNearest: ascending and
    // descending window scans share the hash partitioning; a second
    // Exchange means the single-shuffle kernel regressed to the
    // compose-two-lookups shape), and ONE Window node per direction
    // (the last() pairs share a projection — split windows double
    // the sorted passes)
    assert("Exchange hashpartitioning".r.findAllIn(aj).length == 1,
      s"aj03 shuffle count drifted:\n$aj")
    assert("\\bWindow\\b".r.findAllIn(aj).length == 2,
      s"aj03 window-node count drifted:\n$aj")
    // ly07: ONE window, and it runs over the post-aggregate file
    // metadata (the aggregate appears below it in the tree) — the
    // corpus itself contributes only the partial-agg scan
    val ly = PlanSummary.finalPlanString(
      SparkEntry.queries("ly07_compaction_bins")(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(ly).length == 1,
      s"ly07 window count drifted:\n$ly")
    assert(ly.contains("HashAggregate"), s"ly07 lost the file agg:\n$ly")
    // t26: the corpus is paid once, eagerly, inside the bounded-stats
    // collects; the RETURNED plan must therefore score only the local
    // V×S grid — a parquet scan or any join here means the eager
    // bounded-read restructure (ADVICE r14) regressed to rescanning
    val t26 = PlanSummary.finalPlanString(
      SparkEntry.queries("t26_unigram_drift")(spark, sf))
    assert(t26.contains("LocalTableScan") && !t26.contains("Scan parquet"),
      s"t26 grid is no longer a local relation:\n$t26")
    assert(!t26.contains("Join"), s"t26 grid gained a join:\n$t26")
    // the eval/sketch composites stay cartesian-free
    for (name <- Seq("e23_ann_recall", "r04_pipeline_mrr",
        "t25_loglog_ndv", "st12_windowed_loglog")) {
      val plan = PlanSummary.finalPlanString(
        SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"$name gained a cartesian:\n$plan")
    }
  }

  test("c08 snapshot diff is one pk join of fingerprints, text never shuffles") {
    val plan = PlanSummary.finalPlanString(
      SparkEntry.queries("c08_snapshot_diff")(spark, sf))
    // one join (full-outer over pk); the md5 fingerprint is projected
    // BELOW the exchange (the Project with md5 feeds it), so the
    // shuffle carries (pk, fp) — text appears only in scan/project
    // lines, never on an Exchange node
    assert(plan.contains("FullOuter") || plan.contains("full_outer"),
      s"c08 lost its full-outer join:\n$plan")
    plan.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"c08 shuffles document text: $l")
    }
    assert(plan.linesIterator.count(_.contains("md5")) >= 2,
      s"c08 must fingerprint both sides before the join:\n$plan")
  }

  test("e21 greedy rounds run inside one aggregate: plan size constant in selK") {
    // The per-round withColumn formulation let Catalyst inline round
    // k's selection into round k+1's lambdas — optimized-plan size
    // grew 2.5× per round and each copy re-evaluated per candidate
    // (0.25 s → 5.5 s from selK=1→5). The aggregate-accumulator form
    // is immune: the selected set is a runtime lambda variable.
    import graft.operators.Similarity
    import graft.core.Tables
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 4)
    def planLen(selK: Int) = Similarity
      .mmrRerank(emb, qs, candK = 12, selK = selK, lambda = 0.7)
      .queryExecution.optimizedPlan.toString.length
    val (p2, p5) = (planLen(2), planLen(5))
    assert(p2 == p5,
      s"e21 plan must not grow with selK: selK=2 → $p2 chars, selK=5 → $p5")
  }

  test("bk03 carries an injected runtime bloom filter: creation agg + " +
      "scan-side might_contain probe, shuffle join regime") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val df = SparkEntry.queries("bk03_bloom_runtime_join")(spark, sf)
    val ops = SpecSupport.finalOperators(df)
    // the optimizer must have planted the probe on the fact side —
    // walk expressions, not strings (the subquery nesting varies)
    val hasProbe = ops.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[BloomFilterMightContain])))
    assert(hasProbe, "bk03 lost the injected bloom might_contain probe")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("bloom_filter_agg"),
      s"bk03 lost the bloom creation aggregate:\n$plan")
    // the face demonstrates the SHUFFLE-join regime (broadcast
    // disabled on its isolated session) — the fact side must meet the
    // dim through a shuffle join, with the probe pruning before it
    assert(!plan.contains("BroadcastHashJoin"),
      s"bk03 must run in the shuffle-join regime:\n$plan")
  }

  test("sk04 splits the hot-language partition at runtime: " +
      "SortMergeJoin(skew=true) with a skewed shuffle read") {
    val plan = PlanSummary.finalPlanString(
      SparkEntry.queries("sk04_aqe_skew_join")(spark, sf))
    assert(plan.contains("skew=true"),
      s"sk04: AQE no longer marks the join skewed:\n$plan")
    assert(plan.contains("AQEShuffleRead skewed"),
      s"sk04: the skewed shuffle read disappeared:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"sk04 must run in the shuffle-join regime:\n$plan")
  }

  test("finalPlanString reads the post-AQE plan, not the initial one") {
    val df = SparkEntry.queries("q01_agg_pricing")(spark, sf)
    // before execution the AQE string has no codegen markers — the
    // round-2 PLANS.md bug this tooling fix exists for
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("isFinalPlan=false") || PlanSummary.wscSpans(pre) == 0)
    val post = PlanSummary.finalPlanString(df)
    assert(post.contains("isFinalPlan=true"))
    assert(!post.contains("== Initial Plan =="))
    assert(PlanSummary.wscSpans(post) >= 1)
  }
}
