package graft.text

import org.apache.spark.sql.Column

/** Noun lemmatizer approximating `nltk.WordNetLemmatizer().lemmatize(w)`
  * with the default pos='n' (the only form the reference uses:
  * `RDD_logisticregression.py:55`).
  *
  * NLTK's noun path is WordNet "morphy": an irregular-exception lookup
  * followed by suffix detachment rules, accepting a candidate only if
  * it exists in the WordNet noun lexicon. We ship the public morphy
  * noun rules plus a compact irregular map; without the full lexicon
  * membership test, rules are guarded by length heuristics instead.
  * Divergences from NLTK are possible for rare words — documented
  * trade-off (SURVEY.md §7 "What's hard" #4).
  *
  * Pure JVM `String => String`, exposed both as a Scala function (for
  * typed Dataset code) and as a UDF `Column` — the single non-Catalyst
  * scalar op in the engine (SURVEY.md §2.13).
  */
object Lemmatizer {

  private val irregular: Map[String, String] = Map(
    "men" -> "man", "women" -> "woman", "children" -> "child",
    "feet" -> "foot", "teeth" -> "tooth", "geese" -> "goose",
    "mice" -> "mouse", "lice" -> "louse", "oxen" -> "ox",
    "people" -> "people", "data" -> "data", "media" -> "media",
    "criteria" -> "criterion", "phenomena" -> "phenomenon",
    "analyses" -> "analysis", "crises" -> "crisis",
    "theses" -> "thesis", "hypotheses" -> "hypothesis",
    "lives" -> "life", "wives" -> "wife", "knives" -> "knife",
    "wolves" -> "wolf", "leaves" -> "leaf", "halves" -> "half",
    "selves" -> "self", "shelves" -> "shelf", "loaves" -> "loaf",
    "indices" -> "index", "matrices" -> "matrix",
    "vertices" -> "vertex", "axes" -> "axis",
    "news" -> "news", "series" -> "series", "species" -> "species",
    "bus" -> "bus", "gas" -> "gas", "lens" -> "lens",
    "this" -> "this", "his" -> "his", "was" -> "was", "is" -> "is",
    "as" -> "as", "us" -> "us", "ss" -> "ss", "yes" -> "yes")

  /** Lexicon-derived corrections for the rule cascade's wrong picks —
    * WordNet morphy only accepts a detachment if the candidate is in
    * the noun lexicon, which this container cannot ship. Three classes
    * measured on the train.csv vocabulary (SCALE.md "Retired probe
    * mains"; the exposure bound is pinned in TextOpsSpec):
    * -se/-ie singulars where a later rule fires before the lexicon
    * would accept plain s-drop (houses→house, not "hous"; movies→
    * movie, not "movy"); -oes/-es irregulars; and words morphy finds
    * NO noun form for, which NLTK then returns unchanged (adverbs,
    * verb 3sg forms, proper nouns the lexicon protects).
    */
  private val lexiconGuard: Map[String, String] = Map(
    // -ses plurals of -se singulars (rule ses→s would strand "hous")
    "houses" -> "house", "causes" -> "cause", "cases" -> "case",
    "releases" -> "release", "uses" -> "use", "noses" -> "nose",
    "roses" -> "rose", "phrases" -> "phrase", "purposes" -> "purpose",
    "diseases" -> "disease", "databases" -> "database",
    "phases" -> "phase", "courses" -> "course", "nurses" -> "nurse",
    "horses" -> "horse", "pauses" -> "pause", "doses" -> "dose",
    "senses" -> "sense", "defenses" -> "defense", "bases" -> "base",
    // -ies plurals of -ie singulars (rule ies→y would strand "movy")
    "movies" -> "movie", "zombies" -> "zombie", "calories" -> "calorie",
    "cookies" -> "cookie", "selfies" -> "selfie", "pixies" -> "pixie",
    "genies" -> "genie", "newbies" -> "newbie",
    // -oes / exception-file plurals
    "heroes" -> "hero", "potatoes" -> "potato", "tomatoes" -> "tomato",
    "echoes" -> "echo", "torpedoes" -> "torpedo",
    "volcanoes" -> "volcano", "mosquitoes" -> "mosquito",
    "tornadoes" -> "tornado",
    // -s singulars that ARE the lexicon entry (morphy keeps them)
    "chaos" -> "chaos", "clothes" -> "clothes", "oops" -> "oops",
    // no noun form in WordNet → NLTK returns the word unchanged
    "capsizes" -> "capsizes",
    "always" -> "always", "sometimes" -> "sometimes",
    "goes" -> "goes", "appears" -> "appears", "declares" -> "declares",
    "others" -> "others", "whereas" -> "whereas",
    "perhaps" -> "perhaps", "besides" -> "besides",
    "towards" -> "towards", "anyways" -> "anyways",
    "outdoors" -> "outdoors", "upstairs" -> "upstairs",
    // proper nouns the lexicon protects from detachment
    "texas" -> "texas", "reuters" -> "reuters",
    "christmas" -> "christmas", "thomas" -> "thomas",
    "kansas" -> "kansas", "arkansas" -> "arkansas",
    "wales" -> "wales", "vegas" -> "vegas", "adidas" -> "adidas")

  /** WordNet morphy noun suffix rules, in NLTK's substitution order. */
  def lemma(word: String): String = {
    val w = word
    irregular.get(w).orElse(lexiconGuard.get(w)) match {
      case Some(l) => l
      case None =>
        if (w.length < 3 || !w.endsWith("s")) w
        // morphy noun detachments: ses->s, xes->x, zes->z, ches->ch,
        // shes->sh, ies->y, ves->f (covered by irregulars), s->''
        else if (w.endsWith("sses")) w.dropRight(2)
        else if (w.endsWith("xes") || w.endsWith("zes") ||
                 w.endsWith("ses")) w.dropRight(2)
        else if (w.endsWith("ches") || w.endsWith("shes")) w.dropRight(2)
        else if (w.endsWith("ies") && w.length > 4) w.dropRight(3) + "y"
        else if (w.endsWith("ss") || w.endsWith("us") ||
                 w.endsWith("is")) w
        else w.dropRight(1)
    }
  }

  /** Scalar lemmatization as a native Catalyst expression
    * ([[graft.expressions.LemmatizeWord]]) — codegen'd, no UDF
    * closure dispatch.
    */
  def lemmatize(word: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.LemmatizeWord(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(word)))

  /** Lemmatize every element of a token-array column: the native
    * expression composed under the `transform` higher-order function —
    * the whole chain stays inside one whole-stage-codegen span.
    */
  def lemmatizeAll(tokens: Column): Column =
    org.apache.spark.sql.functions.transform(tokens, lemmatize _)
}
