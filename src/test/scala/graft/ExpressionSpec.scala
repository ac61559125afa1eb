package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{GraftExtensions, LemmatizeWord}
import graft.text.Lemmatizer

/** The native lemmatizer expression: codegen and interpreted paths
  * must agree with the driver-side function, compose under `transform`
  * (array path), and resolve from SQL via GraftExtensions.
  */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // fresh session so withExtensions applies even when another suite
    // already created one in this JVM (the SparkContext is reused)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  val words = Seq("wolves", "fires", "cities", "boxes", "bus",
    "children", "glass", "axes", "x", "is")

  test("codegen path agrees with the driver-side lemma function") {
    import spark.implicits._
    val got = words.toDF("w")
      .select(Lemmatizer.lemmatize(col("w"))).as[String].collect()
    assert(got.toSeq == words.map(Lemmatizer.lemma))
  }

  test("interpreted (non-codegen) eval agrees too") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    words.foreach { w =>
      val e = LemmatizeWord(Literal(UTF8String.fromString(w),
        org.apache.spark.sql.types.StringType))
      assert(e.eval(null) ==
        UTF8String.fromString(Lemmatizer.lemma(w)))
    }
    // null-intolerant: null in → null out
    assert(LemmatizeWord(Literal(null,
      org.apache.spark.sql.types.StringType)).eval(null) == null)
  }

  test("array path: transform(tokens, lemmatize) — no UDF in the plan") {
    import spark.implicits._
    val df = Seq(Seq("wolves", "fires", "running")).toDF("toks")
      .select(Lemmatizer.lemmatizeAll(col("toks")).as("lemmas"))
    assert(df.as[Seq[String]].head() == Seq("wolf", "fire", "running"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF leaked into plan:\n$plan")
  }

  test("SQL registry: graft_lemmatize callable from SQL text") {
    val r = spark.sql(
      "SELECT graft_lemmatize('hypotheses') AS l").head().getString(0)
    assert(r == "hypothesis")
  }

  test("Fnv64: independently-computed goldens, codegen/interpreted " +
      "parity, null handling") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.{Fnv64, Fnv64Impl}
    import spark.implicits._
    // goldens from an independent Python implementation of
    // FNV-1a-64 + murmur fmix64 over code points
    val goldens = Seq(
      "hello world" -> 8965976371695117781L,
      "0|the quick brown" -> -5170686978497017290L,
      "" -> -1166397803181037274L)
    goldens.foreach { case (s, exp) =>
      assert(Fnv64Impl.fnv1a64(UTF8String.fromString(s)) == exp, s)
      // interpreted eval path
      assert(Fnv64(Literal(UTF8String.fromString(s), StringType))
        .eval(null) == exp, s"interpreted: $s")
    }
    // codegen path through a DataFrame select
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val got = goldens.map(_._1).toDF("s")
      .select(column(Fnv64(expression(col("s"))))).as[Long].collect()
    assert(got.toSeq == goldens.map(_._2))
    // null-intolerant
    assert(Fnv64(Literal(null, StringType)).eval(null) == null)
  }

  test("SignSketch native kernel ≡ composed when-chain; short vectors raise") {
    import spark.implicits._
    import graft.operators.Similarity
    val rng = new scala.util.Random(0x5157L)
    val rows = Seq.fill(300)(Seq.fill(64)(
      (rng.nextGaussian() * (if (rng.nextInt(10) == 0) 0 else 1)).toFloat))
    val df = rows.toDF("v")
    val got = df.select(
        Similarity.signSketch(col("v")).as("native"),
        SimilarityComposed.signSketchComposed(col("v")).as("composed"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, c) => assert(n == c) }
    // short vector fails loudly on both forms
    val shortV = Seq(Seq(1.0f, -1.0f)).toDF("v")
    intercept[Exception] {
      shortV.select(Similarity.signSketch(col("v"))).collect()
    }
    intercept[Exception] {
      shortV.select(SimilarityComposed.signSketchComposed(col("v"))).collect()
    }
  }

  test("SimHash60 agrees with the composed-HOF form bit for bit") {
    import spark.implicits._
    import graft.operators.Dedup
    val rng = new scala.util.Random(0xD04L)
    val rows = Seq.fill(200)(Seq.fill(1 + rng.nextInt(40))(rng.nextLong()))
    val df = rows.toDF("hvs")
    val got = df.select(
        DedupComposed.simhashNative(col("hvs")).as("native"),
        DedupComposed.simhashFromHashes(col("hvs")).as("composed"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, c) => assert(n == c) }
    // empty array → fingerprint 0 on both forms
    val empty = Seq(Seq.empty[Long]).toDF("hvs")
      .select(DedupComposed.simhashNative(col("hvs")).as("n"),
        DedupComposed.simhashFromHashes(col("hvs")).as("c"))
      .as[(Long, Long)].head()
    assert(empty == ((0L, 0L)))
  }

  test("SimHash60 interpreted eval and null handling") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.expressions.SimHash60
    // all-ones hash → every bit votes +1 → all 60 bits set
    val all = SimHash60(Literal(new GenericArrayData(Array(-1L)),
      ArrayType(LongType))).eval(null)
    assert(all == (1L << 60) - 1)
    // a null element votes −1 everywhere: {hv=-1, null} ties every
    // bit at 0, and ties don't set bits (vote > 0 is strict)
    val tied = SimHash60(Literal(
      new GenericArrayData(Array[Any](-1L, null)),
      ArrayType(LongType))).eval(null)
    assert(tied == 0L)
    // null array in → null out
    assert(SimHash60(Literal(null, ArrayType(LongType))).eval(null) == null)
  }

  test("SimHashText fuses the whole chain and matches the composed form") {
    import spark.implicits._
    import graft.operators.Dedup
    val rng = new scala.util.Random(0xD04DL)
    val vocab = Vector("storm", "flood", "quake", "fire", "calm",
      "ok", "évênt", "日本語", "x1", "", "a b")
    val rows = Seq.fill(150)(
      Seq.fill(1 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size))))
    val got = rows.toDF("toks")
      .select(Dedup.simhashTextNative(col("toks")).as("fused"),
        DedupComposed.simhash(col("toks")).as("composed"))
      .as[(Long, Long)].collect()
    got.foreach { case (f, c) => assert(f == c) }
  }

  test("vector kernels are bit-identical to the composed HOF forms") {
    import spark.implicits._
    import graft.operators.Similarity
    // KernelSubstitution would rewrite the composed side into the very
    // kernel under test, making this parity vacuous — exclude it and
    // prove the exclusion took (no kernel in the composed plan)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.KernelSubstitution")
    try {
    // over a range, not a local relation: a local relation's projection
    // is evaluated during optimization and no function is left to see
    val vacuousGuard = spark.range(1)
      .select(array(col("id").cast("float")).as("a"))
      .select(SimilarityComposed.dotComposed(col("a"), col("a")))
      .queryExecution.executedPlan.toString
    assert(!vacuousGuard.contains("VectorKernelImpl.dot("),
      "rule exclusion failed; parity test would be vacuous")
    val rng = new scala.util.Random(0xE01L)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rng.nextFloat() * 2 - 1),
      Seq.fill(64)(rng.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val dots = df.select(
        Similarity.dot(col("a"), col("b")).as("n"),
        SimilarityComposed.dotComposed(col("a"), col("b")).as("c"))
      .as[(Double, Double)].collect()
    dots.foreach { case (n, c) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(c)) }
    val norms = df.select(
        Similarity.norm(col("a")).as("n"),
        SimilarityComposed.normComposed(col("a")).as("c"))
      .as[(Double, Double)].collect()
    norms.foreach { case (n, c) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(c)) }
    val ctr = Array.fill(64)(rng.nextGaussian())
    val sq = df.select(
        SimilarityComposed.sqDistLitComposed(col("a"), ctr).as("c"))
      .as[Double].collect()
    val sqNative = df.select(org.apache.spark.sql.graftbridge
        .ColumnBridge.column(graft.expressions.SqDistF64(
          org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(col("a")),
          org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(typedLit(ctr.toSeq)))).as("n"))
      .as[Double].collect()
    sq.zip(sqNative).foreach { case (c, n) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(c)) }
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("IntraDocStripExpr ≡ composed sort+exists form on random corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.text.TextOps
    val vocab = Vector("a", "b", "c")
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(600 + seed)
      val docs = (0L until 15L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(24))(vocab(rnd.nextInt(3)))
          .mkString(" ")
      }.toDF("doc_id", "text")
      def run(f: (org.apache.spark.sql.DataFrame, String,
          org.apache.spark.sql.Column, Int) =>
          org.apache.spark.sql.DataFrame) =
        f(docs, "doc_id", TextOps.tokenize(col("text")), 3)
          .collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
          .toMap
      val kernel = run(Dedup.intraDocStrip)
      val composed = run(DedupComposed.intraDocStripComposed)
      assert(kernel == composed, s"seed=${600 + seed}")
    }
  }

  test("GopherStatsExpr ≡ composed HOF stats on random corpora (incl. stopwords)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    import graft.text.TextOps
    // vocab mixes stop words ("the","a","is") with content words and
    // repeats so every statistic takes non-trivial values
    val vocab = Vector("the", "a", "is", "data", "spark", "row", "row")
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(700 + seed)
      val docs = (0L until 15L).map { id =>
        id -> Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
      }.toDF("doc_id", "text")
      val kernel = docs.select(col("doc_id"),
          column(graft.expressions.GopherStatsExpr(
            expression(TextOps.tokenize(col("text"))),
            TextOps.EnglishStopwords)).as("s"))
        .select(col("doc_id"), col("s.*"))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val composed = TextQueriesComposed.gopherStatsComposed(docs)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(kernel == composed, s"seed=${700 + seed}")
    }
  }

  test("KernelSubstitution: composed dot/norm idioms rewrite to the kernels") {
    import graft.operators.Similarity
    // parquet-backed input — a local literal relation would be
    // constant-folded before the plan shape can be observed
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val composed = emb.select(col("vec_id"),
      SimilarityComposed.dotComposed(col("embedding"), col("embedding")).as("d"),
      SimilarityComposed.normComposed(col("embedding")).as("n"))
    val plan = composed.queryExecution.executedPlan.toString
    assert(plan.contains("VectorKernelImpl.dot("),
      s"dot idiom not fused:\n$plan")
    assert(plan.contains("VectorKernelImpl.norm("),
      s"norm idiom not fused:\n$plan")
    // and the rewrite is value-identical to the kernels it claims
    val native = emb.select(col("vec_id"),
      Similarity.dot(col("embedding"), col("embedding")).as("d"),
      Similarity.norm(col("embedding")).as("n"))
    val c = composed.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getDouble(2))).toMap
    native.collect().foreach { r =>
      val (cd, cn) = c(r.getLong(0))
      assert(java.lang.Double.doubleToRawLongBits(cd) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToRawLongBits(cn) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    }
  }

  test("KernelSubstitution is conservative: near-miss shapes untouched") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(5)
    // merge operands flipped: (acc, v) -> v + acc is NOT the idiom
    val flipped = emb.select(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => v + acc).as("d"))
    val p1 = flipped.queryExecution.executedPlan.toString
    assert(!p1.contains("VectorKernelImpl.dot("),
      s"flipped merge fused:\n$p1")
    // non-zero seed is NOT the idiom
    val seeded = emb.select(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(1.0), (acc, v) => acc + v).as("d"))
    val p2 = seeded.queryExecution.executedPlan.toString
    assert(!p2.contains("VectorKernelImpl.dot("),
      s"seeded aggregate fused:\n$p2")
  }

  test("vector kernels: null element poisons, null array nulls out") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
         graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS dn,
         graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS nn,
         graft_norm(array(3.0D, 4.0D)) AS nrm,
         graft_sqdist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS sq""").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == 25.0)
  }

  test("SQL registry: graft_simhash60 callable from SQL text") {
    val r = spark.sql(
      "SELECT graft_simhash60(array(1L, 1L, 1L)) AS fp").head().getLong(0)
    assert(r == 1L) // bit 0 unanimous, all other bits vote −3
  }

  test("declared input types: non-string args cast at analysis, no CCE") {
    // ImplicitCastInputTypes: an int literal arrives as a cast-to-string,
    // not a runtime ClassCastException deep inside eval
    val r = spark.sql("SELECT graft_lemmatize(123) AS l").head().getString(0)
    assert(r == "123")
    val sig = spark.sql(
      "SELECT graft_minhash(42, 4) AS s").head().getSeq[String](0)
    assert(sig.size == 4 && sig.forall(_.length == 8))
  }

  test("CharDiversityStats ≡ composed split+sortedRunLengths form on ASCII, " +
      "codegen and interpreted") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    import graft.text.Analysis
    val rng = new scala.util.Random(0x719L)
    val alphabet = "abcdefg hij"
    // NOTE "" is kernel-only below: Spark's split("", "") yields [""],
    // so the composed form would divide by length 0 — the kernel is
    // strictly more total than the HOF chain it replaces
    val texts = Seq("a", "aab") ++ Seq.fill(40)(
      Seq.fill(1 + rng.nextInt(120))(
        alphabet(rng.nextInt(alphabet.length))).mkString)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def composed = {
      val t = df.withColumn("cs", split(col("text"), ""))
        .withColumn("runs", AnalysisComposed.sortedRunLengths(col("cs")))
      t.select(col("id"),
        length(col("text")).cast("long"),
        size(array_distinct(col("cs"))).cast("long"),
        aggregate(col("runs"), lit(0L), (acc, c) => acc + c * c),
        aggregate(col("runs"), lit(0.0), (acc, c) =>
          acc + (c.cast("double") / length(col("text")).cast("double"))
            * log(length(col("text")).cast("double")
              / c.cast("double"))))
    }
    def native = df.select(col("id"),
      column(graft.expressions.CharDiversityStats(
        expression(col("text")))).as("s"))
      .select(col("id"), col("s")("n_total"), col("s")("n_distinct"),
        col("s")("sum_sq"), col("s")("shannon"))
    for (flag <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      try {
        val c = composed.collect().map(r => r.getLong(0) -> (r.getLong(1),
          r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
        val n = native.collect().map(r => r.getLong(0) -> (r.getLong(1),
          r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
        // the empty doc: composed aggregates give 0/0.0, kernel too
        c.foreach { case (id, (cn, cd, cs, csh)) =>
          val (nn, nd, ns, nsh) = n(id)
          assert(cn == nn && cd == nd && cs == ns, s"id=$id ints")
          assert(java.lang.Double.doubleToRawLongBits(csh) ==
            java.lang.Double.doubleToRawLongBits(nsh),
            s"id=$id shannon $csh vs $nsh") }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // kernel edge: empty string → all-zero stats, no crash
    val empty = Seq((0, "")).toDF("id", "text").select(
      column(graft.expressions.CharDiversityStats(
        expression(col("text")))).as("s"))
      .select(col("s")("n_total"), col("s")("n_distinct"),
        col("s")("sum_sq"), col("s")("shannon")).head()
    assert(empty.getLong(0) == 0 && empty.getLong(1) == 0 &&
      empty.getLong(2) == 0 && empty.getDouble(3) == 0.0)
  }

  test("NgramJoinExpr ≡ composed transform/concat_ws on random corpora " +
      "(n = 1, 2, 3; codegen and interpreted; short docs empty)") {
    import spark.implicits._
    import graft.text.Analysis
    val vocab = Vector("a", "bb", "ccc", "dddd", "x")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1 to 3).foreach { seed =>
          val rnd = new scala.util.Random(1100 + seed)
          val docs = (0L until 25L).map { id =>
            id -> Seq.fill(rnd.nextInt(7))(
              vocab(rnd.nextInt(vocab.length)))
          }.toDF("doc_id", "toks")
          for (n <- 1 to 3) {
            val got = docs
              .select(col("doc_id"), Analysis.ngrams(col("toks"), n))
              .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
              .toMap
            val exp = docs
              .select(col("doc_id"),
                AnalysisComposed.ngramsComposed(col("toks"), n))
              .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
              .toMap
            assert(got == exp, s"codegen=$codegen seed=$seed n=$n")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("WhitespaceTokenizeExpr ≡ composed filter(split) on random and " +
      "adversarial strings (codegen and interpreted)") {
    import spark.implicits._
    import graft.text.TextOps
    val fixed = Seq("", " ", "  \t\n ", "a", " a ", "a b", "a  b",
      "\tab\fc\rd\ne\t", "über  straße", "日本語 テスト",
      "a b", "mixed    ws", "tab\tsep", "trail ")
    val pieces = Vector("word", "ü", "日本", "x", "", " ", "\t", "\n",
      "", "\r", "\f", "longer-token", " ")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val rnd = new scala.util.Random(1700)
        val rows = fixed ++ (1 to 40).map(_ =>
          Seq.fill(rnd.nextInt(10))(pieces(rnd.nextInt(pieces.length)))
            .mkString)
        val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
        val got = docs.select(col("id"), TextOps.tokenize(col("text")))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        val exp = docs
          .select(col("id"), TextOpsComposed.tokenizeComposed(col("text")))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        assert(got == exp, s"codegen=$codegen: " +
          got.keySet.filter(k => got(k) != exp(k)).take(3)
            .map(k => s"$k: ${got(k)} vs ${exp(k)}").mkString("; "))
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("MaxMultiplicityExpr-backed topTokenFraction ≡ composed form " +
      "on random corpora (codegen and interpreted)") {
    import spark.implicits._
    import graft.text.Analysis
    val vocab = Vector("a", "a", "bb", "ccc", "d")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1 to 3).foreach { seed =>
          val rnd = new scala.util.Random(1900 + seed)
          val docs = (0L until 30L).map { id =>
            id -> Seq.fill(rnd.nextInt(12))(
              vocab(rnd.nextInt(vocab.length)))
          }.toDF("doc_id", "toks")
          val got = docs.select(col("doc_id"),
              Analysis.topTokenFraction(col("toks")).as("f"))
            .collect().map(r => r.getLong(0) ->
              java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
          val exp = docs.select(col("doc_id"),
              AnalysisComposed.topTokenFractionComposed(col("toks")).as("f"))
            .collect().map(r => r.getLong(0) ->
              java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
          assert(got == exp, s"codegen=$codegen seed=$seed")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("StopwordRemoveExpr ≡ composed filter(!array_contains) on random " +
      "arrays with duplicates, order and null elements") {
    import spark.implicits._
    import graft.text.TextOps
    val vocab = Vector("the", "and", "cat", "dog", "is", "notastop",
      "don't", "xyz", null, "of", "zzz")
    val rnd = new scala.util.Random(2100)
    val rows: Seq[Seq[String]] = Seq(Seq.empty[String], Seq(null), vocab) ++
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(15))(
        vocab(rnd.nextInt(vocab.length))))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "toks")
        def run(c: org.apache.spark.sql.Column) = docs.select($"id", c)
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        val got = run(TextOps.removeStopwords($"toks",
          TextOps.EnglishStopwords))
        val exp = run(TextOpsComposed.removeStopwordsComposed($"toks",
          TextOps.EnglishStopwords))
        assert(got == exp, s"codegen=$codegen")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("TokenStatsExpr fields ≡ composed size/distinct/length-fold/" +
      "stop-filter stats (incl. null elements nulling sum_len)") {
    import spark.implicits._
    import graft.text.{Analysis, TextOps}
    val vocab = Vector("the", "week", "is", "über", "a", "a", null, "be")
    val rnd = new scala.util.Random(2200)
    val rows: Seq[Seq[String]] = Seq(Seq.empty[String], Seq(null)) ++
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.length))))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "toks")
        val got = docs.select($"id", Analysis.tokenStats($"toks").as("st"))
          .select($"id", $"st.n_tokens", $"st.n_distinct", $"st.sum_len",
            $"st.n_stop")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getLong(4))).toMap
        val stopArr = array(TextOps.EnglishStopwords.map(lit): _*)
        val exp = docs.select($"id",
            size($"toks").cast("long"),
            size(array_distinct($"toks")).cast("long"),
            aggregate($"toks", lit(0L), (acc, t) => acc + length(t)),
            size(filter($"toks", t => array_contains(stopArr, t)))
              .cast("long"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getLong(4))).toMap
        assert(got == exp, s"codegen=$codegen: " +
          got.keySet.filter(k => got(k) != exp(k)).take(3)
            .map(k => s"$k: ${got(k)} vs ${exp(k)}").mkString("; "))
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("ValueCountsExpr ≡ composed sorted-distinct filter counts on " +
      "random null-free arrays; ngramProfile ≡ composed two-level agg") {
    import spark.implicits._
    import graft.operators.Ngrams
    val vocab = Vector("a", "b", "bb", "über", "z", "a a")
    val rnd = new scala.util.Random(2300)
    val rows: Seq[Seq[String]] = Seq(Seq.empty[String]) ++
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(14))(
        vocab(rnd.nextInt(vocab.length))))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "arr")
        import org.apache.spark.sql.graftbridge.ColumnBridge._
        def entries(c: org.apache.spark.sql.Column) =
          docs.select($"id", c.as("vc")).collect().map { r =>
            r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
              .map(e => (e.getString(0), e.getLong(1)))
          }.toMap
        val got = entries(column(
          graft.expressions.ValueCountsExpr(expression($"arr"))))
        val exp = entries(NgramsComposed.valueCountsComposed($"arr"))
        assert(got == exp, s"codegen=$codegen")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // corpus-level: kernel-path profile ≡ composed two-level aggregate
    val corpus = (0L until 60L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    def profile(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy($"gram").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val toks = graft.text.TextOps.tokenize($"text")
    assert(profile(Ngrams.ngramProfile(corpus, "doc_id", toks, 2)) ==
      profile(NgramsComposed.ngramProfileComposed(corpus, "doc_id", toks, 2)))
  }

  test("LangIdExpr ≡ composed marker-argmax langId on random token " +
      "arrays (ties, overlapping markers, und, null elements)") {
    import spark.implicits._
    import graft.text.Analysis
    // vocab stresses: shared markers (que ∈ es+fr), every language,
    // non-markers, nulls, and tie-inducing repeats
    val vocab = Vector("the", "and", "der", "und", "el", "que", "le",
      "les", "de", "dog", "xyz", null, "is", "est", "y", "et")
    val rnd = new scala.util.Random(2400)
    val rows: Seq[Seq[String]] = Seq(Seq.empty[String], Seq(null),
      Seq("que"), Seq("the", "der"), Seq("xyz")) ++
      (1 to 60).map(_ => Seq.fill(rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.length))))
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val docs = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "toks")
        def run(c: org.apache.spark.sql.Column) = docs.select($"id", c)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val got = run(Analysis.langId($"toks"))
        val exp = run(AnalysisComposed.langIdComposed($"toks"))
        assert(got == exp, s"codegen=$codegen: " +
          got.keySet.filter(k => got(k) != exp(k)).take(3)
            .map(k => s"$k: ${got(k)} vs ${exp(k)}").mkString("; "))
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("MinHashBandsExpr ≡ composed bandSignaturesInRow on random " +
      "shingle sets (codegen and interpreted; empty arrays)") {
    import spark.implicits._
    import graft.operators.Dedup
    val vocab = Vector("a b c", "dd ee ff", "x y z", "q w e", "m n o",
      "p1 p2 p3", "longer shingle text")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1 to 3).foreach { seed =>
          val rnd = new scala.util.Random(1500 + seed)
          val docs = (0L until 20L).map { id =>
            id -> rnd.shuffle(vocab).take(rnd.nextInt(6)).toSeq
          }.toDF("doc_id", "shset")
          for ((nh, rpb) <- Seq((16, 4), (8, 2), (12, 3))) {
            val got = docs.select(col("doc_id"),
                Dedup.bandSignaturesInRow(col("shset"), nh, rpb).as("bs"))
              .selectExpr("doc_id", "transform(bs, x -> struct(x.b, x.sig)) as bs")
              .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
            val exp = docs.select(col("doc_id"),
                DedupComposed.bandSignaturesInRowComposed(col("shset"), nh, rpb)
                  .as("bs"))
              .selectExpr("doc_id", "transform(bs, x -> struct(x.b, x.sig)) as bs")
              .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
            assert(got == exp, s"codegen=$codegen seed=$seed nh=$nh rpb=$rpb")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("MinHashBandsExpr all-null-elements edge: kernel yields EMPTY bands " +
      "(documented divergence from the composed size>0 branch)") {
    // Unreachable from production call sites (shingle arrays are
    // array_distinct'd ngram output, never containing null elements);
    // the kernel's empty answer is the one consistent with its
    // containsNull=false sig schema. Pinned here so the divergence is
    // a contract, not a surprise — see MinHashBands.scala scaladoc.
    import spark.implicits._
    import graft.operators.Dedup
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val docs = Seq((0L, Seq[String](null, null)), (1L, Seq[String](null)))
          .toDF("doc_id", "shset")
        val got = docs
          .select(col("doc_id"),
            Dedup.bandSignaturesInRow(col("shset"), 8, 2).as("bs"))
          .select(col("doc_id"), size(col("bs")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == Map(0L -> 0, 1L -> 0), s"codegen=$codegen: $got")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("HashedGramBucketsExpr ≡ composed featureBuckets on random corpora " +
      "(codegen and interpreted; empty and 1-token docs)") {
    import spark.implicits._
    import graft.operators.Dsir
    val vocab = Vector("alpha", "bb", "c", "dddd", "ee_x", "über")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1 to 3).foreach { seed =>
          val rnd = new scala.util.Random(1300 + seed)
          val docs = (0L until 25L).map { id =>
            id -> Seq.fill(rnd.nextInt(6))(
              vocab(rnd.nextInt(vocab.length)))
          }.toDF("doc_id", "toks")
          for (m <- Seq(7, 1024)) {
            val got = docs
              .select(col("doc_id"), Dsir.featureBuckets(col("toks"), m))
              .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
              .toMap
            val exp = docs
              .select(col("doc_id"),
                DsirComposed.featureBucketsComposed(col("toks"), m))
              .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
              .toMap
            assert(got == exp, s"codegen=$codegen seed=$seed m=$m")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("BigramLogProbExpr ≡ composed ngrams→avgLogProb on random corpora " +
      "(codegen and interpreted)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    import graft.text.{Analysis, TextOps}
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    // model covers some bigrams, misses others → both branches hit
    val model = Map("aa bb" -> -0.3, "bb cc" -> -1.7, "cc aa" -> -0.05)
    val floor = math.log(0.5 / 97.0)
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        (1 to 4).foreach { seed =>
          val rnd = new scala.util.Random(900 + seed)
          val docs = (0L until 20L).map { id =>
            id -> Seq.fill(rnd.nextInt(12))(
              vocab(rnd.nextInt(vocab.length))).mkString(" ")
          }.toDF("doc_id", "text")
            .select(col("doc_id"),
              TextOps.tokenize(col("text")).as("__toks"))
          val kernel = docs.select(col("doc_id"),
              column(graft.expressions.BigramLogProbExpr(
                expression(col("__toks")), model, floor)).as("s"))
            .select(col("doc_id"), col("s")("n_bigrams"),
              col("s")("avg_logprob"))
            .collect()
            .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
            .toMap
          val composed = docs
            .select(col("doc_id"),
              AnalysisComposed.ngramsComposed(col("__toks"), 2).as("g"))
            .select(col("doc_id"), size(col("g")).as("n"),
              Analysis.unigramAvgLogProb(col("g"), model, floor)
                .as("lp"))
            .collect()
            .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
            .toMap
          composed.foreach { case (id, (n, lp)) =>
            assert(kernel(id)._1 == n,
              s"codegen=$codegen seed=$seed id=$id n")
            assert(java.lang.Double.doubleToRawLongBits(kernel(id)._2) ==
              java.lang.Double.doubleToRawLongBits(lp),
              s"codegen=$codegen seed=$seed id=$id " +
                s"${kernel(id)._2} vs $lp")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("BlocklistHits ≡ composed per-pattern contains: nested and " +
      "overlapping patterns, random texts, early exit; codegen and " +
      "interpreted") {
    import spark.implicits._
    import graft.text.TextOps
    // nested entries ("ab" inside "aab"/"abab"), self-overlap ("aa"
    // in "aaa"), shared prefixes, duplicate entry, guaranteed miss
    val patterns = Seq("ab", "aab", "abab", "aa", "ba", "zzz",
      "table table", "table", "aa")
    val rng = new scala.util.Random(0xacacL)
    val texts = Seq("", "a", "aaa", "abab", "aabab", "table table table",
      "xbax", "ztzzzz") ++ Seq.fill(80)(
      Seq.fill(rng.nextInt(60))("ab ta ble aa b z "(
        rng.nextInt(17))).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    def composed = df.select(col("id"),
      TextOpsComposed.blocklistHitsComposed(col("text"), patterns).as("c"))
    def native = df.select(col("id"),
      TextOps.blocklistHits(col("text"), patterns).as("c"))
    for (flag <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      try {
        val want = composed.collect().map(r => r.getLong(0) -> r.getInt(1))
          .toMap
        native.collect().foreach { r =>
          assert(r.getInt(1) == want(r.getLong(0)),
            s"id=${r.getLong(0)} codegen=$flag text=" +
              s"'${texts(r.getLong(0).toInt)}': kernel ${r.getInt(1)} " +
              s"vs composed ${want(r.getLong(0))}")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // null text -> null; all-found early exit still counts correctly
    val edge = Seq((0L, null: String), (1L, "aab aa ba abab zzz table " +
      "table table"))
      .toDF("id", "text")
      .select(col("id"), TextOps.blocklistHits(col("text"), patterns)
        .as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(edge(0L) == -1)
    assert(edge(1L) == patterns.length) // every entry present (dup twice)
  }

  test("BlocklistHits at 100k entries: automaton memory stays " +
      "O(pattern bytes) and counts match naive contains on planted docs") {
    import graft.expressions.AcAutomaton
    val pats = TextQueriesComposed.blocklist100k
    assert(pats.length == 100000 && pats.distinct.length == 100000)
    val auto = new AcAutomaton(pats.toArray)
    val (states, edges) = auto.sizeStats
    val patBytes = pats.map(_.getBytes("UTF-8").length).sum
    // trie bounds: ≤ one state per pattern byte (plus root), edges =
    // states − 1 — this IS the "O(pattern bytes), no 256-wide rows"
    // scaladoc claim at production list size (~2 MB of patterns)
    assert(states <= patBytes + 1, s"states=$states patBytes=$patBytes")
    assert(edges == states - 1, s"edges=$edges states=$states")
    // correctness at this scale: planted phrases + filler, counts
    // match the naive 100k-contains reference per doc
    val rng = new scala.util.Random(99)
    (1 to 50).foreach { _ =>
      val planted = Seq.fill(rng.nextInt(6))(
        pats(rng.nextInt(pats.length)))
      val filler = Seq.fill(4)(s"w${rng.nextInt(1000)}")
      val doc = rng.shuffle(planted ++ filler).mkString(" ")
      val naive = pats.count(doc.contains)
      val got = auto.countEntriesPresent(
        doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(got == naive, s"doc='$doc' got=$got naive=$naive")
    }
  }

  test("IntersectCountI64 ≡ size(array_intersect) on long arrays: " +
      "random, duplicates, nulls, Long.MinValue, empties; codegen " +
      "and interpreted") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val rng = new scala.util.Random(0x164L)
    def arr(): Seq[java.lang.Long] = {
      val n = rng.nextInt(40)
      Seq.fill(n)(rng.nextInt(12) match {
        case 0 => null
        case 1 => java.lang.Long.valueOf(Long.MinValue)
        case 2 => java.lang.Long.valueOf(Long.MaxValue)
        case _ => java.lang.Long.valueOf(rng.nextInt(25).toLong)
      })
    }
    val rows = Seq(
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (Seq[java.lang.Long](1L, 1L, 2L), Seq[java.lang.Long](2L, 2L, 1L)),
      (Seq[java.lang.Long](Long.MinValue, null),
        Seq[java.lang.Long](null, Long.MinValue))
    ) ++ Seq.fill(80)((arr(), arr()))
    val df = rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    def composed = df.select(col("id"),
      size(array_intersect(col("a"), col("b"))).as("c"))
    def native = df.select(col("id"),
      column(graft.expressions.IntersectCountI64(
        expression(col("a")), expression(col("b")))).as("c"))
    for (flag <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      try {
        val want = composed.collect().map(r => r.getLong(0) -> r.getInt(1))
          .toMap
        native.collect().foreach { r =>
          assert(r.getInt(1) == want(r.getLong(0)),
            s"id=${r.getLong(0)} codegen=$flag: " +
              s"kernel ${r.getInt(1)} vs composed ${want(r.getLong(0))}")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("a mistyped argument to an array<string> kernel is cast at " +
      "analysis, not a runtime ClassCastException") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val df = Seq(Seq(1L, 2L, 3L)).toDF("a")
      .select(column(graft.expressions.NgramJoinExpr(
        expression(col("a")), 2)).as("g"))
    val casts = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case c: Cast => c.child.dataType.catalogString -> c.dataType.catalogString
    })
    assert(casts.contains("array<bigint>" -> "array<string>"),
      df.queryExecution.analyzed)
    assert(df.as[Seq[String]].head() == Seq("1 2", "2 3"))
  }

  test("two copies of a kernel with state are semantically equal, so a " +
      "self-join reads the cached frame over it") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.expressions._
    val toks = AttributeReference("toks", ArrayType(StringType))()
    val text = AttributeReference("text", StringType)()
    val stops = Seq("the", "a", "is")
    val kernels: Seq[() => Expression] = Seq(
      () => LangIdExpr(toks, graft.text.Analysis.LangMarkers),
      () => StopwordRemoveExpr(toks, stops),
      () => TokenStatsExpr(toks, stops),
      () => GopherStatsExpr(toks, stops),
      () => BigramLogProbExpr(toks, Map("a b" -> -1.5), -9.0),
      () => BpeEncodeExpr(toks, Seq("l" -> "o", "lo" -> "w")),
      () => BlocklistHits(text, Seq("bad", "worse")))
    kernels.foreach { k =>
      val (x, y) = (k(), k())
      assert(x.semanticEquals(y) && x.semanticHash() == y.semanticHash(),
        s"$x: two copies differ after canonicalization")
    }
    val docs = Seq((1L, "the cat is on the mat and the dog is in the house"),
      (2L, "el gato y la casa de la playa")).toDF("id", "text")
    val english = docs
      .select(col("id"), graft.text.Analysis.langId(
        graft.text.TextOps.tokenize(col("text"))).as("lang"))
      .filter(col("lang") === "en").select(col("id")).persist()
    try {
      assert(english.count() == 1L)
      val kept = docs.join(english, Seq("id"), "left_semi")
      val plan = kept.queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.isDefined,
        s"the self-join recomputes the cached frame:\n$plan")
      assert(kept.select(col("id")).as[Long].collect().toSeq == Seq(1L))
    } finally english.unpersist()
  }

  test("source audit: no kernel hand-writes codegen, a type check or a " +
      "Java call string; each binds its Impl through StaticInvoke") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(sys.props("user.dir"), "src", "main", "scala",
      "graft", "expressions")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 20, s"kernels not found under $dir")
    val rules = Seq(
      "a hand-written codegen or type check" ->
        """\b(?:doGenCode|checkInputDataTypes|nullSafeCodeGen|defineCodeGen)\b""".r,
      "a Java source string naming an Impl" ->
        """"[^"\n]*\bgraft\.[\w.$]*Impl\b""".r)
    val found = files.flatMap { f =>
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.flatMap {
        case (line, i) => rules.collect {
          case (what, re) if re.findFirstIn(line).isDefined =>
            s"${f.getFileName}:${i + 1}: $what: ${line.trim}"
        }
      }
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
