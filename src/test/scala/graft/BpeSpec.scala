package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe
import graft.text.TextOps

/** Golden-value tests for the BPE trainer/encoder — merge order,
  * tie-breaks, greedy overlap handling, and encode/count parity are
  * all hand-computed on paper fixtures.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  // Word freqs: low:4 lower:2 lowest:1 newest:2. Hand-derived rounds:
  //  1. (l,o) 7   — ties (o,w) 7, lhs asc
  //  2. (lo,w) 7
  //  3. (e,s) 3   — ties (low,e) and (s,t) 3, lhs asc
  //  4. (es,t) 3
  //  5. (e,r) 2   — five-way tie at 2, (lhs,rhs) asc
  test("trainMerges learns the hand-computed rule sequence") {
    val d = docs("low low low lower lower", "lowest low newest newest")
    val merges =
      Bpe.trainMerges(d, TextOps.tokenize(col("text")), 5)
    assert(merges.map(m => (m.rank, m.lhs, m.rhs, m.freq)) == Seq(
      (1, "l", "o", 7L), (2, "lo", "w", 7L), (3, "e", "s", 3L),
      (4, "es", "t", 3L), (5, "e", "r", 2L)))
  }

  test("merge application is greedy left-to-right on overlapping pairs") {
    val d = docs("aaa aaa")
    val merges = Bpe.trainMerges(d, TextOps.tokenize(col("text")), 2)
    // (a,a) appears twice per "aaa" (overlap counted, as in Sennrich's
    // reference counter) x freq 2; the merge itself is leftmost-greedy
    // so "aaa" -> [aa, a], enabling (aa, a) next round.
    assert(merges.map(m => (m.lhs, m.rhs, m.freq)) ==
      Seq(("a", "a", 4L), ("aa", "a", 2L)))
    import spark.implicits._
    val toks = TextOps.tokenize(col("text"))
    val pieces = d.select(
      Bpe.pieceCount(toks, BpeComposed.encode(toks, merges)).as("p"))
      .as[Int].collect()
    // both rules applied: "aaa" -> [aa, a] -> [aaa]; two words, one
    // piece each
    assert(pieces.toSeq == Seq(2))
  }

  test("encode splits exactly at learned boundaries; counts match") {
    import spark.implicits._
    val train = docs("low low low lower lower", "lowest low newest newest")
    val merges =
      Bpe.trainMerges(train, TextOps.tokenize(col("text")), 5)
    val enc = docs("low lower lowest newest")
      .select(BpeComposed.encode(TextOps.tokenize(col("text")), merges).as("e"))
      .as[String].collect().head
    // low -> [low]; lower -> [low, er]; lowest -> [low, est];
    // newest -> [n, e, w, est]
    assert(enc ==
      "#low# #low##er# #low##est# #n##e##w##est#")
    val toks = TextOps.tokenize(col("text"))
    val counted = docs("low lower lowest newest", "")
      .select(Bpe.pieceCount(toks, BpeComposed.encode(toks, merges)).as("p"))
      .as[Int].collect()
    assert(counted.toSeq == Seq(9, 0)) // 1 + 2 + 2 + 4; empty doc -> 0
  }

  test("vocab pieces carry hand-computed corpus occurrence weights") {
    import spark.implicits._
    val train = docs("low low low lower lower", "lowest low newest newest")
    val merges =
      Bpe.trainMerges(train, TextOps.tokenize(col("text")), 5)
    val vocab = train
      .select(explode(TextOps.tokenize(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(explode(Bpe.symbols(
          BpeComposed.encode(array(col("word")), merges))).as("piece"),
        col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("occ"))
      .as[(String, Long)].collect().toMap
    // low:[low] x4, lower:[low,er] x2, lowest:[low,est] x1,
    // newest:[n,e,w,est] x2
    assert(vocab == Map("low" -> 7L, "er" -> 2L, "est" -> 3L,
      "n" -> 2L, "e" -> 2L, "w" -> 2L))
  }

  /** Independent in-test reference: naive driver-side BPE over a
    * word-frequency map — list-of-symbols state, explicit greedy
    * left-to-right merge application, (-count, lhs, rhs) argmax.
    * Shares no code with the operator, so agreement pins the
    * semantics, not the implementation.
    */
  private def refBpe(words: Map[String, Long], n: Int)
      : (Seq[(String, String, Long)], Map[String, List[String]]) = {
    var syms: Map[String, List[String]] =
      words.keys.map(w => w -> w.toList.map(_.toString)).toMap
    val rules = Seq.newBuilder[(String, String, Long)]
    var k = 0
    var done = false
    while (k < n && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((w, ss) <- syms; i <- 0 until ss.length - 1)
        counts((ss(i), ss(i + 1))) += words(w)
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) =
          counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        rules += ((l, r, c))
        syms = syms.map { case (w, ss) =>
          val buf = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
              buf += l + r; i += 2
            } else { buf += ss(i); i += 1 }
          }
          w -> buf.toList
        }
        k += 1
      }
    }
    (rules.result(), syms)
  }

  test("random corpora: trainMerges + encode agree with a naive " +
      "driver-side reference implementation") {
    import org.scalacheck.Gen
    import spark.implicits._
    val wordGen = Gen.chooseNum(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val corpusGen = Gen.chooseNum(3, 12)
      .flatMap(n => Gen.listOfN(n, wordGen))
    val cases = Iterator.continually(corpusGen.sample).flatten.take(8)
    for (words <- cases) {
      val freqs = words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val (expRules, expSyms) = refBpe(freqs, 4)
      val d = docs(words.mkString(" "))
      val toks = TextOps.tokenize(col("text"))
      val got = Bpe.trainMerges(d, toks, 4)
      assert(got.map(m => (m.lhs, m.rhs, m.freq)) == expRules,
        s"rules diverged for corpus $words")
      // the distributed merge rounds (forced past the bounded local
      // finish) must learn the identical rule sequence
      val gotDist = Bpe.trainMerges(d, toks, 4, localFinishRows = 0L)
      assert(gotDist == got, s"local vs distributed trainer diverged " +
        s"for corpus $words")
      val enc = d.select(BpeComposed.encode(toks, got).as("e"))
        .as[String].collect().head
      val gotSyms = if (enc.isEmpty) Nil
        else enc.split(" ").toList.map(m =>
          m.stripPrefix("#").stripSuffix("#").split("##").toList)
      assert(gotSyms == words.map(expSyms),
        s"encode diverged for corpus $words")
    }
  }

  test("256-merge training + sliced encode agree with the naive " +
      "reference (the production merge-count path)") {
    import spark.implicits._
    // deterministic corpus rich enough to sustain 256 merge rounds:
    // 400 distinct words, lengths 4-10 over a 6-letter alphabet
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(400)(
      Seq.fill(4 + rnd.nextInt(7))(('a' + rnd.nextInt(6)).toChar).mkString)
      .distinct
    val freqs = words.map(w => w -> (1L + rnd.nextInt(5))).toMap
    val corpus = freqs.toSeq.sortBy(_._1)
      .flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val d = docs(corpus.grouped(80).map(_.mkString(" ")).toSeq: _*)
    val toks = TextOps.tokenize(col("text"))
    val (expRules, expSyms) = refBpe(freqs, 256)
    assert(expRules.size == 256,
      "fixture must sustain the full 256 rounds")
    val got = Bpe.trainMerges(d, toks, 256)
    assert(got.map(m => (m.lhs, m.rhs, m.freq)) == expRules)
    // sliced encode (32-rule slices -> 8 checkpointed chunks) must be
    // byte-identical to the single-plan encode AND to the reference
    val sliced = BpeComposed.encodeSliced(d, toks, got, "enc", sliceSize = 32)
      .select(col("doc_id"), col("enc"))
    val single = d.select(col("doc_id"), BpeComposed.encode(toks, got).as("enc"))
    val sl = sliced.as[(Long, String)].collect().sortBy(_._1)
    assert(sl.toSeq == single.as[(Long, String)].collect().sortBy(_._1).toSeq)
    val gotSyms = sl.flatMap(_._2.split(" ")).map(m =>
      m.stripPrefix("#").stripSuffix("#").split("##").toList)
    val expFlat = corpus.grouped(80).flatMap(_.map(expSyms)).toSeq
    assert(gotSyms.toSeq == expFlat)
  }

  test("encodeSliced handles rule lists beyond the plan-literal " +
      "ceiling with a bounded final plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    // 5000 synthetic no-op rules (symbols disjoint from the corpus
    // alphabet) — more than MaxPlanMerges, so single-plan encode
    // refuses them and the sliced path is the only way through
    val rules = (1 to 5000).map(k => Bpe.Merge(k, "zz", "qq", 1L))
    assertThrows[IllegalArgumentException] {
      BpeComposed.encode(col("t"), rules)
    }
    val d = docs("ab cd", "ef")
    val toks = TextOps.tokenize(col("text"))
    val sliced = BpeComposed.encodeSliced(d, toks, rules, "enc", sliceSize = 250)
    // lineage is truncated: the final plan hangs off a checkpoint
    // (LogicalRDD leaf), carrying only the last slice's replaces —
    // not a 5000-replace expression tree
    assert(sliced.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[LogicalRDD]))
    val out = sliced.select(col("doc_id"), col("enc"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)
    assert(out.toSeq == Seq("#a##b# #c##d#", "#e##f#"))
  }

  test("vocab fails loud on tokens containing the boundary marker") {
    val d = docs("clean words but one bad#token sneaks in")
    val e = intercept[Exception] {
      Bpe.trainMerges(d, TextOps.tokenize(col("text")), 2)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("boundary marker")), msgs.mkString(" | "))
    // and the documented remedy — clean before tokenize — trains fine
    val merges = Bpe.trainMerges(d,
      TextOps.tokenize(TextOps.clean(col("text"))), 2)
    assert(merges.size == 2)
  }

  test("encode is lossless: stripping markers reconstructs the text") {
    import spark.implicits._
    val d = docs("low lower lowest newest unseen words qqq")
    val merges =
      Bpe.trainMerges(d, TextOps.tokenize(col("text")), 6)
    val rebuilt = d.select(
      regexp_replace(regexp_replace(
          BpeComposed.encode(TextOps.tokenize(col("text")), merges),
          "##", ""),
        "#", "").as("r"))
      .as[String].collect().head
    assert(rebuilt == "low lower lowest newest unseen words qqq")
  }

  test("encodeKernel ≡ chained-replace encode on random corpora and at 256 merges") {
    import spark.implicits._
    val vocab = Vector("ab", "abc", "bca", "c", "cab", "aa")
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(800 + seed)
      val d = (0 until 15).map(i => (i.toLong,
          Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(6)))
            .mkString(" ")))
        .toDF("doc_id", "text")
      val toks = TextOps.tokenize(col("text"))
      val merges = Bpe.trainMerges(d, toks, 10)
      val chain = d.select(col("doc_id"),
          BpeComposed.encode(toks, merges).as("e"))
        .as[(Long, String)].collect().toMap
      val kernel = d.select(col("doc_id"),
          Bpe.encodeKernel(toks, merges).as("e"))
        .as[(Long, String)].collect().toMap
      assert(kernel == chain, s"seed=${800 + seed}")
    }
    // deep rule list: kernel ≡ the sliced/checkpointed path that
    // exists for plan-depth reasons the kernel doesn't have
    val rnd = new scala.util.Random(0xBEE)
    val letters = "abcd"
    val big = (0 until 60).map(i => (i.toLong,
        Seq.fill(3 + rnd.nextInt(6))(
          Seq.fill(2 + rnd.nextInt(8))(
            letters(rnd.nextInt(4))).mkString).mkString(" ")))
      .toDF("doc_id", "text")
    val toksB = TextOps.tokenize(col("text"))
    val deep = Bpe.trainMerges(big, toksB, 256)
    val sliced = BpeComposed.encodeSliced(big, toksB, deep, sliceSize = 64)
      .select(col("doc_id"), col("encoded"))
      .as[(Long, String)].collect().toMap
    val kernelDeep = big.select(col("doc_id"),
        Bpe.encodeKernel(toksB, deep).as("e"))
      .as[(Long, String)].collect().toMap
    assert(kernelDeep == sliced, s"256-merge kernel/sliced divergence")
  }

  test("decode inverts encode — plain and sliced — on random corpora") {
    import spark.implicits._
    val vocab = Vector("ab", "abc", "bca", "c", "cab")
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(400 + seed)
      val texts = (0 until 12).map(_ =>
        Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(5)))
          .mkString(" "))
      val d = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val toks = TextOps.tokenize(col("text"))
      val merges = Bpe.trainMerges(d, toks, 8)
      val plain = d.select(col("doc_id"),
          Bpe.decode(BpeComposed.encode(toks, merges)).as("r"))
        .as[(Long, String)].collect().toMap
      val sliced = Bpe.decode(col("encoded"))
      val viaSlices = BpeComposed.encodeSliced(d, toks, merges, sliceSize = 3)
        .select(col("doc_id"), sliced.as("r"))
        .as[(Long, String)].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(plain(i.toLong) == t, s"seed=${400 + seed} plain doc $i")
        assert(viaSlices(i.toLong) == t,
          s"seed=${400 + seed} sliced doc $i")
      }
    }
  }
}
