package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.features.FeatureHashing
import graft.operators.{Ngrams, Similarity}

/** Unit contracts for the round-6 operators: hot-n-gram boilerplate
  * stripping, hashing-trick TF, and Johnson–Lindenstrauss random
  * projection. The DuckDB oracles (t13/t14/f05/e12) prove
  * engine-parity on the corpus; these prove the hand-computable
  * semantics and the hash-independent invariants on planted fixtures.
  */
class Round6OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import Ngrams._

  private def toks = graft.text.TextOps.tokenize(col("text"))

  test("topNgrams: df counts docs not occurrences; ties break by gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // "a b" twice in one doc → df 1, occ 2
      (2L, "a b c"),   // "a b" df 2; "b c" df 1
      (3L, "b c d")    // "b c" df 2; "c d" df 1
    ).toDF("doc_id", "text")
    val top = topNgrams(docs, "doc_id", toks, n = 2, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(("a b", 2L, 3L), ("b c", 2L, 2L), ("b a", 1L, 1L)))
  }

  test("stripHotNgrams: planted boilerplate spans vanish, clean docs untouched") {
    import spark.implicits._
    // "click here" is in 3 of 4 docs — the clear top bigram.
    val docs = Seq(
      (1L, "click here now"),
      (2L, "real content click here"),
      (3L, "click here"),
      (4L, "untouched words only")
    ).toDF("doc_id", "text")
    val out = stripHotNgrams(docs, "doc_id", toks, n = 2, topK = 1)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "now", 2),
      (2L, "real content", 2),
      (3L, "", 2),              // fully covered → empty, still present
      (4L, "untouched words only", 0)))
  }

  test("stripHotNgrams: overlapping hot grams cover the union of positions") {
    import spark.implicits._
    // hot grams "a b" and "b c" overlap at the shared b: positions
    // 0,1,2 are covered once each, not double-counted.
    val docs = Seq(
      (1L, "a b c tail"),
      (2L, "a b x"), (3L, "a b y"),   // keep "a b" df-hot
      (4L, "b c x"), (5L, "b c y"))   // keep "b c" df-hot
      .toDF("doc_id", "text")
    val row = stripHotNgrams(docs, "doc_id", toks, n = 2, topK = 2)
      .filter(col("doc_id") === 1L)
      .as[(Long, String, Int)].head()
    assert(row == ((1L, "tail", 3)))
  }

  test("hashedTf: bucket range, token-mass conservation, profile agreement") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a"),
      (2L, "d e"),
      (3L, "a a a a a a"))
      .toDF("doc_id", "text").select(col("doc_id"), toks.as("tokens"))
    val b = 8
    for (profile <- Seq(FeatureHashing.bucketOracle _,
                        SpecSupport.bucketFast _)) {
      val tf = FeatureHashing.hashedTf(docs, "doc_id", col("tokens"), b,
        profile)
      val buckets = tf.select(col("bucket")).as[Long].collect()
      assert(buckets.forall(x => x >= 0 && x < b))
      val mass = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("m"))
        .as[(Long, Long)].collect().toMap
      assert(mass == Map(1L -> 4L, 2L -> 2L, 3L -> 6L))
    }
    // same token always lands in the same bucket within a profile
    val one = FeatureHashing.hashedTf(docs, "doc_id", col("tokens"), b)
      .filter(col("doc_id") === 3L).count()
    assert(one == 1L) // six identical tokens → exactly one bucket row
  }

  test("containmentPairs: detects the quoted-short-doc Jaccard misses; directed") {
    import spark.implicits._
    // doc 1's text appears whole inside doc 2: containment(1→2) = 1
    // while Jaccard = 3/12 = 0.25 — under any near-dup threshold.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon one two three four five " +
        "six seven eight nine"),
      (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val sh = graft.operators.Dedup.shingles(docs, "doc_id", toks)
    val cont = graft.operators.Dedup.containmentPairs(sh, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0))) // directed: only 1→2, never 2→1
    val jac = graft.operators.Dedup.jaccardPairs(sh, 0.5).count()
    assert(jac == 0L) // the symmetric threshold indeed misses it
  }

  test("conversion funnel: clicks before the first view don't count") {
    import spark.implicits._
    // user 1: view@10 → click@20 → purchase@30 (stage 3)
    // user 2: click@5, view@10, click@40 → first QUALIFYING click is
    //         40, no purchase after it (stage 2, latency 30)
    // user 3: view@10 only (stage 1)
    // user 4: purchase@10 with no view — not in the funnel at all
    val rows = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L), (2L, "click", 40L),
      (2L, "purchase", 35L),
      (3L, "view", 10L),
      (4L, "purchase", 10L))
    val e = rows.toDF("user_id", "event_type", "t")
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("t") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("t") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
    val out = v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, lit(3))
          .when(col("t_click").isNotNull, lit(2)).otherwise(lit(1))
          .as("stage"),
        coalesce(col("t_click") - col("t_view"), lit(-1L)).as("d1"),
        coalesce(col("t_purchase") - col("t_click"), lit(-1L)).as("d2"))
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3, 10L, 10L),
      (2L, 2, 30L, -1L),  // purchase@35 < qualifying click@40 → stage 2
      (3L, 1, -1L, -1L)))
  }

  test("null text: strip passes through null, hashing and profile drop it") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, null.asInstanceOf[String]),
      (3L, "a b c"), (4L, "a b d")).toDF("doc_id", "text")
    val out = stripHotNgrams(docs, "doc_id", toks, n = 2, topK = 1)
      .as[(Long, Option[String], Int)].collect().sortBy(_._1).toSeq
    // null text survives as a null row (the 100 TB contract: no crash,
    // no silent row loss), untouched by the strip
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(out(1) == ((2L, None, 0)))
    // explode semantics drop the null row from token-level operators
    val tf = FeatureHashing.hashedTf(
      docs.select(col("doc_id"), toks.as("tokens")), "doc_id",
      col("tokens"), 8)
    assert(tf.filter(col("doc_id") === 2L).count() == 0L)
    assert(tf.count() > 0L)
    val top = topNgrams(docs, "doc_id", toks, n = 2, k = 10)
      .as[(String, Long, Long)].collect()
    assert(top.exists(_._1 == "a b") && top.forall(_._1 != null))
  }

  test("sessionPaths: gap splits sessions; same-ts events order by event_id") {
    import spark.implicits._
    val gap = 1000L
    // user 1: two events 1 ms apart, then a 5 s gap, then two events
    // at the SAME timestamp (order must fall back to event_id).
    val rows = Seq(
      (1L, 10L, "view", 0L), (1L, 11L, "click", 1L),
      (1L, 13L, "purchase", 5001L), (1L, 12L, "view", 5001L),
      (2L, 20L, "view", 0L))
    val e = rows.toDF("user_id", "event_id", "event_type", "ms")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_millis(col("ms")).as("ts"))
    val paths = graft.streaming.EventStreams
      .sessionPaths(e, gapMs = gap, k = 10)
      .as[(String, Long)].collect().toMap
    assert(paths == Map(
      "view>click" -> 1L,      // session 1 of user 1
      "view>purchase" -> 1L,   // id 12 (view) before id 13 (purchase)
      "view" -> 1L))           // user 2
  }

  test("signSketch bit pattern and hammingTopK ranking are exact") {
    import spark.implicits._
    // dims 0 and 2 non-negative → bits 0,2 → 0b101 = 5; zero counts
    // as non-negative (bit set)
    val v = Seq((1L, Seq(1.0f, -1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val sk = v.select(Similarity.signSketch(col("embedding"), dim = 3))
      .as[Long].head()
    assert(sk == 5L)
    // corpus: an exact twin of the query (hamming 0, rank 1), a
    // one-bit flip (hamming 1, rank 2), an antipode (hamming 64)
    val base = Array.fill(64)(1.0f)
    val flip = base.clone(); flip(10) = -1.0f
    val anti = base.map(-_)
    val corpus = Seq(
      (100L, base.toSeq), (101L, flip.toSeq), (102L, anti.toSeq))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, base.toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(corpus, queries, k = 3)
      .as[(Long, Long, Int, Int)].collect().sortBy(_._4).toSeq
    assert(got == Seq(
      (1L, 100L, 0, 1), (1L, 101L, 1, 2), (1L, 102L, 64, 3)))
  }

  test("ivfPqTopK: probing all cells IS plain ADC; partial probe keeps exact ADC values") {
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val ctr = Similarity.randomPlanes(8, 64, seed = 7L)
    val cbs = Similarity.seededCodebooks(numSub = 4, k = 16, dsub = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("n_id"), col("adist"), col("rn"))
        .as[(Long, Long, Double, Int)].collect().toSet
    // nProbe = numCells → the cell filter admits everything, so the
    // composition must reproduce the flat ADC ranking bit-for-bit
    val full = rows(Similarity.ivfPqTopK(emb, queries, ctr, cbs,
      k = 10, nProbe = 8))
    val adc = rows(Similarity.pqAdcTopK(emb, queries, cbs, k = 10))
    assert(full == adc)
    // partial probe: a candidate subset, but every surviving pair
    // carries the IDENTICAL adist (same literal LUT math)
    val adcAll = Similarity.pqAdcTopK(emb, queries, cbs, k = 1000000)
      .select(col("q_id"), col("n_id"), col("adist"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val partial = Similarity.ivfPqTopK(emb, queries, ctr, cbs,
        k = 10, nProbe = 2)
      .select(col("q_id"), col("n_id"), col("adist"))
      .as[(Long, Long, Double)].collect()
    assert(partial.nonEmpty)
    partial.foreach { case (q, n, d) =>
      assert(adcAll((q, n)) == d, s"adist drifted for ($q,$n)")
    }
  }

  test("ivfPqResidualTopK: a single zero centroid reduces to flat ADC") {
    import spark.implicits._
    // with one all-zero cell the residual IS the raw vector, every
    // query probes the one cell, and the composition must reproduce
    // pqAdcTopK bit-for-bit — the structural identity that pins the
    // residual plumbing (subtract, per-cell LUT, code join)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val zeroCtr = Array(Array.fill(64)(0.0))
    val cbs = Similarity.seededCodebooks(numSub = 4, k = 16, dsub = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    val res = rows(Similarity.ivfPqResidualTopK(emb, queries, zeroCtr,
      cbs, k = 10, nProbe = 1))
    val adc = rows(Similarity.pqAdcTopK(emb, queries, cbs, k = 10))
    assert(res == adc)
  }

  test("randomProject: JL norm preservation in expectation + exact parity") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vecs = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val signs = Similarity.rademacherSigns(outDim = 16, inDim = 64)

    // E[‖proj‖²] = ‖x‖² for Rademacher rows scaled by 1/√k: the mean
    // ratio over 64 vectors concentrates well inside ±30%.
    val ratios = df.select(
        (Similarity.norm(Similarity.randomProject(col("embedding"), signs))
          / Similarity.norm(col("embedding"))).as("r"))
      .as[Double].collect()
    val meanSq = ratios.map(r => r * r).sum / ratios.length
    assert(meanSq > 0.7 && meanSq < 1.3, s"mean ‖proj‖²/‖x‖² = $meanSq")

    // bit-exact vs the hand-composed form: ⟨x,s_i⟩/√k per output dim
    val composed = array(signs.map(s0 =>
      (SimilarityComposed.dotComposed(col("embedding"),
        typedLit(s0.toSeq)) / lit(4.0)): org.apache.spark.sql.Column): _*)
    val mismatches = df.select(
        Similarity.randomProject(col("embedding"), signs).as("a"),
        composed.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0L)
  }
}
