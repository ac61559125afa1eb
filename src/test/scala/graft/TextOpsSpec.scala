package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Analysis, Lemmatizer, TextOps}

/** Unit tests for the text package against the hand-computable micro
  * fixtures in FIXTURES.md §2 (reference semantics:
  * `LogisticRegression.py:25-39`).
  */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def cleanOne(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("text").select(TextOps.clean($"text")).as[String].head()
  }

  def tokensOne(s: String): Seq[String] = {
    import spark.implicits._
    Seq(s).toDF("text")
      .select(TextOps.tokenize(TextOps.clean($"text")))
      .as[Seq[String]].head()
  }

  test("repetition signals: hand-computed fractions and empty-doc zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b"),      // top: 3/4; bigrams [a a, a a, a b] → dup 1/3
      (2L, "x y z"),        // all distinct → top 1/3, dup 0
      (3L, "w"),            // single token → top 1, no bigrams → dup 0
      (4L, "")              // empty → 0, 0
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
      .select($"doc_id", $"toks", Analysis.ngrams($"toks", 2).as("grams"))
      .select($"doc_id",
        Analysis.topTokenFraction($"toks").as("top"),
        Analysis.dupGramFraction($"grams").as("dup"))
    val got = df.as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0.75, 1.0 - 2.0 / 3)))
    assert(got(2L) == ((1.0 / 3, 0.0)))
    assert(got(3L) == ((1.0, 0.0)))
    assert(got(4L) == ((0.0, 0.0)))
  }

  test("chunking: strided windows, tail chunk, empty doc drops") {
    import spark.implicits._
    val toks = (1 to 14).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, toks), (2L, "")).toDF("doc_id", "text")
    val got = graft.operators.Chunking.chunks(df, "doc_id",
        TextOps.tokenize(col("text")), chunkSize = 8, stride = 6)
      .as[(Long, Int, String, Int)].collect().sortBy(_._2)
    // starts 0, 6, 12 → windows [1..8], [7..14], [13..14]
    assert(got.map(_._1).forall(_ == 1L)) // empty doc contributes none
    assert(got.map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0, (1 to 8).map(i => s"t$i").mkString(" "), 8),
      (1, (7 to 14).map(i => s"t$i").mkString(" "), 8),
      (2, "t13 t14", 2)))
  }

  test("sequence packing: budget windows, overrun chunk, group isolation") {
    import spark.implicits._
    // group g1: chunks of 4,4,3,4 tokens, budget 8 →
    //   cum-before 0,4,8,11 → packs 0,0,1,1 (pack 1 = 7 tokens)
    // group g2: single 9-token doc, chunkSize 4 → chunks 4,4,1 →
    //   cum-before 0,4,8 → packs 0,0,1
    val docs = Seq(
      (1L, "g1", (1 to 4).map("a" + _).mkString(" ")),
      (2L, "g1", (1 to 7).map("b" + _).mkString(" ")),
      (3L, "g1", (1 to 4).map("c" + _).mkString(" ")),
      (10L, "g2", (1 to 9).map("d" + _).mkString(" "))
    ).toDF("doc_id", "source", "text")
    val ch = graft.operators.Chunking.chunks(docs, "doc_id",
      TextOps.tokenize(col("text")), chunkSize = 4, stride = 4,
      passthrough = Seq("source"))
    val got = graft.operators.Chunking.pack(ch, "source", budget = 8)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("g1", 0L, 2L, 8L), ("g1", 1L, 2L, 7L),
      ("g2", 0L, 2L, 8L), ("g2", 1L, 1L, 1L)))
  }

  test("contamination: planted overlap counts and fractions") {
    import spark.implicits._
    // eval doc: tokens a b c d → shingles {a b c, b c d}
    // corpus 10: a b c x y   → shingles {a b c, b c x, c x y}: overlap 1/3
    // corpus 11: a b c d e   → 3 shingles, overlap 2 → 2/3
    // corpus 12: p q r s     → no overlap → absent from output
    val docs = Seq((1L, "a b c d"), (10L, "a b c x y"),
      (11L, "a b c d e"), (12L, "p q r s")).toDF("doc_id", "text")
    def sh(f: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.shingles(f, "doc_id",
        TextOps.tokenize(col("text")))
    val got = graft.operators.Dedup.contamination(
        sh(docs.filter($"doc_id" >= 10)), sh(docs.filter($"doc_id" < 10)))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(10L -> ((1L, 1.0 / 3)), 11L -> ((2L, 2.0 / 3))))
  }

  test("clean: plain text lowercases and strips punctuation") {
    assert(cleanOne("Forest fire near La Ronge Sask. Canada") ==
      "forest fire near la ronge sask  canada")
  }

  test("clean: URLs, mentions, digits, hashtags") {
    // URL and @mention vanish; digits/commas/# → spaces; lstrip only
    // (the reference keeps trailing spaces — verified against
    // word_tokenizer in LogisticRegression.py:25-33).
    assert(cleanOne(
      "13,000 people receive #wildfires orders http://t.co/x @user") ==
      "people receive  wildfires orders  ")
  }

  test("clean: punctuation flood") {
    assert(cleanOne("What a goooooooaaaaaal!!!!!!") ==
      "what a goooooooaaaaaal      ")
  }

  test("clean: empty text stays empty") {
    assert(cleanOne("") == "")
  }

  test("tokenize drops empty tokens from repeated separators") {
    assert(tokensOne("Ablaze! ablaze ABLAZE") ==
      Seq("ablaze", "ablaze", "ablaze"))
  }

  test("removeStopwords keeps duplicates and order (unlike array_except)") {
    import spark.implicits._
    val got = Seq(Seq("fire", "the", "fire", "m", "storm"))
      .toDF("toks")
      .select(TextOps.removeStopwords($"toks",
        TextOps.EnglishStopwords ++ TextOps.ExtraStopwordsMl))
      .as[Seq[String]].head()
    assert(got == Seq("fire", "fire", "storm"))
  }

  test("lemmatizer: regular plurals, sibilants, irregulars, guards") {
    assert(Lemmatizer.lemma("fires") == "fire")
    assert(Lemmatizer.lemma("churches") == "church")
    assert(Lemmatizer.lemma("cities") == "city")
    assert(Lemmatizer.lemma("boxes") == "box")
    assert(Lemmatizer.lemma("men") == "man")
    assert(Lemmatizer.lemma("children") == "child")
    assert(Lemmatizer.lemma("glass") == "glass")   // -ss guard
    assert(Lemmatizer.lemma("bus") == "bus")       // -us guard
    assert(Lemmatizer.lemma("is") == "is")
    assert(Lemmatizer.lemma("fire") == "fire")     // not plural
  }

  test("lemmatizer: lexicon-guard exceptions reproduce NLTK's picks") {
    // -se singulars: morphy's lexicon test accepts the plain s-drop,
    // where the bare ses→s rule would strand a non-word
    assert(Lemmatizer.lemma("houses") == "house")
    assert(Lemmatizer.lemma("causes") == "cause")
    assert(Lemmatizer.lemma("uses") == "use")
    // -ie singulars: lexicon picks s-drop over ies→y
    assert(Lemmatizer.lemma("movies") == "movie")
    assert(Lemmatizer.lemma("zombies") == "zombie")
    // exception-file -oes plurals
    assert(Lemmatizer.lemma("heroes") == "hero")
    assert(Lemmatizer.lemma("tornadoes") == "tornado")
    // no noun form in WordNet → NLTK returns the word unchanged
    assert(Lemmatizer.lemma("always") == "always")
    assert(Lemmatizer.lemma("goes") == "goes")
    assert(Lemmatizer.lemma("sometimes") == "sometimes")
    // lexicon-protected proper nouns and -s singular nouns
    assert(Lemmatizer.lemma("texas") == "texas")
    assert(Lemmatizer.lemma("christmas") == "christmas")
    assert(Lemmatizer.lemma("chaos") == "chaos")
    assert(Lemmatizer.lemma("clothes") == "clothes")
    // the general cascade still handles unlisted regulars
    assert(Lemmatizer.lemma("rescuers") == "rescuer")
    assert(Lemmatizer.lemma("authorities") == "authority")
  }

  test("lemmatizer: corpus-level divergence exposure stays bounded") {
    // Divergence vs NLTK can only come from detachments whose result
    // the WordNet lexicon would have rejected. Proxy (the method behind
    // the lexicon guard, SCALE.md "Retired probe mains"): a detachment is CORROBORATED when its output occurs as
    // a corpus token itself ("fires"→"fire", "fire" appears 250×) —
    // those match NLTK for real plurals. The uncorroborated remainder
    // is the at-risk bound; manual review of its head shows mostly
    // correct singulars the corpus never uses ("rescuer", "miner").
    // Measured 2.4% of tokens after the lexicon-guard map; pin < 3%.
    import spark.implicits._
    val pre = graft.core.Csv.tweets(spark, graft.core.Csv.TrainCsv)
      .select(TextOps.removeStopwords(
        TextOps.tokenize(TextOps.clean($"text")),
        (TextOps.EnglishStopwords ++ TextOps.ExtraStopwordsRdd)
          .distinct).as("toks"))
      .select(explode($"toks").as("word"))
      .groupBy("word").count()
      .as[(String, Long)].collect().toMap
    val totalTokens = pre.values.sum
    val atRisk = pre.toSeq.collect {
      case (w, n) if Lemmatizer.lemma(w) != w &&
        !pre.contains(Lemmatizer.lemma(w)) => n
    }.sum
    val rate = atRisk.toDouble / totalTokens
    info(f"token-weighted uncorroborated-detachment rate: $rate%.4f")
    assert(rate < 0.03, f"at-risk rate $rate%.4f regressed above 3%%")
  }

  test("ngrams: sliding window, short docs yield empty") {
    import spark.implicits._
    val got = Seq(Seq("a", "b", "c", "d"), Seq("a", "b"), Seq[String]())
      .toDF("toks").select(Analysis.ngrams($"toks", 3)).as[Seq[String]]
      .collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("langId: marker argmax with priority tie-break") {
    import spark.implicits._
    val got = Seq(
      "the fire is in the forest",     // en
      "el fuego es en la casa",        // es
      "le feu est dans les bois",      // fr
      "xyzzy plugh")                   // und
      .toDF("text")
      .select(Analysis.langId(TextOps.tokenize($"text"))).as[String]
      .collect()
    assert(got.toSeq == Seq("en", "es", "fr", "und"))
  }

  test("quality metrics on a known doc") {
    import spark.implicits._
    val df = Seq("the fire the fire storm").toDF("text")
    val toks = TextOps.tokenize($"text")
    val row = df.select(
      Analysis.tokenCount(toks),
      Analysis.distinctTokenCount(toks),
      Analysis.typeTokenRatio(toks),
      AnalysisComposed.meanTokenLen(toks),
      AnalysisComposed.stopwordRatio(toks)).head()
    assert(row.getInt(0) == 5)
    assert(row.getInt(1) == 3)
    assert(row.getDouble(2) == 0.6)
    assert(row.getDouble(3) == 3.8)     // (3+4+3+4+5)/5
    assert(row.getDouble(4) == 0.4)     // 2×"the" of 5
  }

  test("unigramAvgLogProb: model lookup, OOV floor, empty doc") {
    import spark.implicits._
    val model = Map("a" -> math.log(0.5), "b" -> math.log(0.25))
    val floor = math.log(0.01)
    val df = Seq("a b", "a zzz", "").toDF("text")
    val got = df.select(
      Analysis.unigramAvgLogProb(TextOps.tokenize($"text"), model, floor))
      .as[Double].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      r6((math.log(0.5) + math.log(0.25)) / 2),
      r6((math.log(0.5) + floor) / 2),
      0.0))
  }

  test("t18 gopher rules: each planted offender fails exactly its rule") {
    import spark.implicits._
    def doc(toks: Seq[String]) = toks.mkString(" ")
    val uniq = (1 to 58).map(i => f"word$i%02d") // 6/7-char distinct
    val short2 = (1 to 58).map(i => f"${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val docs = Seq(
      // 1: 60 tokens, diverse, has the+a → keep
      1L -> doc("the" +: "a" +: uniq),
      // 2: word-count fail only (9 tokens)
      2L -> doc("the" +: "a" +: uniq.take(7)),
      // 3: mean-len fail only (2-char words, mean < 3)
      3L -> doc("the" +: "a" +: short2),
      // 4: top-token fail only ("spam" 24× of 50, non-adjacent)
      4L -> doc(Seq("the", "a") ++ (1 to 24).flatMap(i =>
        Seq("spam", f"filler$i%02d"))),
      // 5: stopword fail only (diverse but no stop words)
      5L -> doc(uniq ++ Seq("zebra", "quokka")),
      // 6: dup-2gram fail only ("xx yy" 4× → 3 dup of 59 2-grams)
      6L -> doc(Seq("the", "a") ++ (1 to 4).flatMap(i =>
        Seq("xx", "yy", f"gap$i%02d")) ++ uniq.take(46))
    ).toDF("doc_id", "text")
    val out = graft.queries.TextQueries.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = (1 to 5).map(i =>
      out(id).getBoolean(out(id).schema.fieldIndex(Seq("r_word_count",
        "r_mean_len", "r_top_token", "r_stopwords", "r_dup_2gram")(i - 1))))
    assert(flags(1L) == Seq(true, true, true, true, true)
      && out(1L).getAs[Boolean]("keep"))
    assert(flags(2L) == Seq(false, true, true, true, true))
    assert(flags(3L) == Seq(true, false, true, true, true))
    assert(flags(4L) == Seq(true, true, false, true, true))
    assert(flags(5L) == Seq(true, true, true, false, true))
    assert(flags(6L) == Seq(true, true, true, true, false))
    assert((2L to 6L).forall(id => !out(id).getAs[Boolean]("keep")))
  }

  test("sortedRunLengths: multiplicities in value-sorted order; empty array") {
    import spark.implicits._
    val got = Seq(
      (1L, Seq("b", "a", "b", "c", "b")),
      (2L, Seq("x")),
      (3L, Seq.empty[String]))
      .toDF("id", "arr")
      .select($"id", AnalysisComposed.sortedRunLengths($"arr"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(1L, 3L, 1L)) // a:1, b:3, c:1 — char-sorted
    assert(got(2L) == Seq(1L))
    assert(got(3L) == Seq.empty)
  }

  test("t19 char diversity: hand-computed gini and shannon on 'aab'") {
    import spark.implicits._
    val r = graft.queries.TextQueries.queries("t19_char_diversity")
    // drive the same expression directly over a planted frame via the
    // public pieces: n=3, counts a:2 b:1 → gini 4/9, shannon =
    // (2/3)ln(3/2) + (1/3)ln 3
    val df = Seq((1L, "aab")).toDF("doc_id", "text")
      .withColumn("cs", split($"text", ""))
      .withColumn("runs", AnalysisComposed.sortedRunLengths($"cs"))
    val row = df.select(
      (length($"text").cast("long") * length($"text")
        - aggregate($"runs", lit(0L), (acc, c) => acc + c * c))
        .as("gini_num"),
      aggregate($"runs", lit(0.0), (acc, c) =>
        acc + (c.cast("double") / length($"text").cast("double"))
          * log(length($"text").cast("double") / c.cast("double"))))
      .head()
    assert(row.getLong(0) == 4L)
    val expected = (2.0 / 3) * math.log(3.0 / 2) +
      (1.0 / 3) * math.log(3.0)
    assert(math.abs(row.getDouble(1) - expected) < 1e-12)
    assert(r != null)
  }

  test("t20 bigram LM: hand-computed conditional log-probs") {
    import spark.implicits._
    // grams: d1 [a b, b a, a b, b c], d2 [a b, b c], d4 [b c, c a, a b]
    // counts: "a b"=4 "b c"=3 "b a"=1 "c a"=1, total 9
    // contexts: a·=4, b·=4, c·=1 → lp(a b)=ln(4/4)=0, lp(b a)=ln(1/4),
    // lp(b c)=ln(3/4), lp(c a)=ln(1/1)=0; V=30 holds all 4, no OOV
    val docs = Seq(
      (1L, "a b a b c"), (2L, "a b c"), (3L, "x"), (4L, "b c a b")
    ).toDF("doc_id", "text")
    val got = graft.queries.TextQueries.bigramScored(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2)))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L, 4L)) // single-token doc 3 dropped
    assert(got(1L)._1 == 4 && got(2L)._1 == 2 && got(4L)._1 == 3)
    assert(got(1L)._2 ==
      r6((math.log(0.25) + math.log(0.75)) / 4))
    assert(got(2L)._2 == r6(math.log(0.75) / 2))
    assert(got(4L)._2 == r6(math.log(0.75) / 3))
  }

  test("t20 bigram LM: OOV grams past top-V hit the 0.5-count floor") {
    import spark.implicits._
    // 41 tokens → 40 distinct bigrams, all count 1 with context 1 →
    // model lp = ln(1/1) = 0 for the 30 gram-asc winners; the other
    // 10 take the floor ln(0.5/40)
    val text = (0 until 41).map(i => f"t$i%02d").mkString(" ")
    val got = graft.queries.TextQueries
      .bigramScored(Seq((7L, text)).toDF("doc_id", "text"))
      .collect()
    assert(got.length == 1 && got(0).getInt(1) == 40)
    val expected = 10 * math.log(0.5 / 40) / 40
    assert(math.abs(got(0).getDouble(2) - expected) < 1e-6)
  }
}
