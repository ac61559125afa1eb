package bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Csv
import graft.features.RddPipeline
import graft.gd.{GradientDescent, LogisticLoss, Predict}
import graft.ml.TweetPipeline
import graft.operators.{Curation, Dedup, Similarity}
import graft.text.TextOps

/** Wraps each call into the engine. Untraced it runs the call bare;
  * traced it records a span and tags the call's Spark jobs with a job
  * group unique to this phase instance. Phases of a measured op are
  * children of a span named `<workload>.op`, those of a warm-up op of
  * `<workload>.warm`, and set-up phases are roots.
  */
final class Phases(val workload: String, tracer: Option[Tracer]) {
  private var parent = -1
  private var opIndex = 0
  private var group = ""
  /** Values a phase instance reports besides its timings, by job group. */
  val notes = mutable.Map.empty[String, mutable.Map[String, Double]]

  def op[A](measured: Boolean)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      val kind = if (measured) "op" else "warm"
      try t.span(s"$workload.$kind", -1) { id => parent = id; f }
      finally { parent = -1; opIndex += 1 }
  }

  def apply[A](name: String)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      group = s"$workload.$name#$opIndex"
      try t.span(s"$workload.$name", parent, group)(_ => f)
      finally group = ""
  }

  /** Attach `value` to the phase instance running now (traced only). */
  def note(key: String, value: Double): Unit =
    if (group.nonEmpty) notes.getOrElseUpdate(group, mutable.Map.empty)(key) = value
}

/** One benchmark workload: seeded inputs, set-up, and a closed-loop op
  * whose output is checked every time it runs.
  */
trait Workload {
  def name: String
  /** Documents (or records) one op processes. */
  def docsPerOp: Double
  /** Ops per window: warm-up and measurement run whole windows. */
  def window: Int
  /** Warm-up length in windows. */
  def warmWindows: Int
  /** Fewest windows a measurement takes, however long they last: the
    * measured ops sit at the same place in the JIT warm-up drift on
    * every run, on a fast host and a slow one.
    */
  def minWindows: Int
  /** Phases of a measured op, in call order. */
  def phases: Seq[String]
  /** Set-up phases, timed once per set-up (wall time only). */
  def setupPhases: Seq[String] = Nil
  /** Write the inputs under `dir/in` and do the engine-side set-up. */
  def prepare(dir: String): Unit
  /** Run op number `i`; `None` when its output check passes. */
  def op(i: Int): Option[String]
  /** The workload's quality figure from the latest op or set-up. */
  def quality: Double
  /** One-time check after the repeated set-ups (quality figures that
    * need the built state).
    */
  def setupCheck(): Unit = ()
  /** Per-layer (name, value, unit) figures that need more than
    * listener counters.
    */
  def ratios(inst: String => Seq[Instance]): Seq[(String, Double, String)] = Nil
}

/** One traced phase instance with its listener counters and notes. */
final case class Instance(wallMs: Double, driverMs: Double, jobs: Double,
                          tasks: Double, cpuMs: Double, shuffleMb: Double,
                          gcMs: Double, recordsRead: Double,
                          notes: Map[String, Double])

object Workloads {
  val VecSchema = "vec_id LONG, embedding ARRAY<DOUBLE>"
  val DocSchema = "id LONG, text STRING"

  def apply(name: String, spark: SparkSession, seed: Long,
            ph: Phases): Workload = name match {
    case "tweets" => new Tweets(spark, seed, ph)
    case "lookup" => new Lookup(spark, seed, ph)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The paper's task on both stacks over a fresh tweet CSV. */
final class Tweets(spark: SparkSession, seed: Long, ph: Phases)
    extends Workload {
  val name = "tweets"
  val n = 4000
  val docsPerOp: Double = n
  // the first op in a fresh JVM takes about three times as long as a
  // later one, and the next about 1.4 times; op times then fall ~5% an
  // op for ten more. The run budget allows two warm-up ops and three
  // measured ones.
  val window = 1
  val warmWindows = 2
  val minWindows = 3
  val phases = Seq("csv_tok", "tfidf", "gd_local", "gd_dist", "predict",
    "ml_featurize", "ml_nb")
  // the generator's label noise puts held-out F1 near 0.85
  private val F1Band = (0.6, 0.97)
  private var csv = ""
  private var lastF1 = 0.0

  def prepare(dir: String): Unit = {
    csv = s"$dir/in/tweets.csv"
    Gen.tweets(seed, n, csv)
  }

  def quality: Double = lastF1

  def op(i: Int): Option[String] = {
    val fz = ph("csv_tok")(RddPipeline.featurize(spark, csv, dim = 10000))
    val (tr, te, nTr, nTe) = ph("tfidf") {
      val (tr, te) = RddPipeline.gateSplit(fz.data)
      val trRdd = tr.rdd.persist()
      val teP = te.persist()
      (trRdd, teP, trRdd.count(), teP.count())
    }
    val cfg = GradientDescent.Config(iterations = 100, learningRate = 0.01,
      optimizer = "SGD", reg = GradientDescent.L2(1.15))
    val fit = ph("gd_local")(GradientDescent.runRdd(tr, 10000, LogisticLoss, cfg))
    val dist = ph("gd_dist") {
      val r = GradientDescent.runRdd(tr, 10000, LogisticLoss,
        cfg.copy(iterations = 10), localFinishRows = 0)
      ph.note("iters", r.costs.length)
      r
    }
    val conf = ph("predict")(Predict.evaluate(te, fit.coef))
    fz.release(); tr.unpersist(); te.unpersist()
    val feat = ph("ml_featurize") {
      val df = TweetPipeline.featurize(Csv.tweets(spark, csv)).persist()
      df.count()
      df
    }
    val nb = ph("ml_nb")(TweetPipeline.trainEval("nb", feat))
    feat.unpersist()
    lastF1 = conf.f1
    def inBand(x: Double) = x >= F1Band._1 && x <= F1Band._2
    if (nTr + nTe != n) Some(s"stack B parsed ${nTr + nTe} of $n tweets")
    else if (conf.total != nTe) Some(s"confusion sums to ${conf.total}, test size $nTe")
    else if (!inBand(conf.f1)) Some(s"stack B F1 ${conf.f1} outside $F1Band")
    else if (dist.costs.length != 10 || dist.costs.exists(c => !c.isFinite))
      Some("distributed GD did not run 10 finite iterations")
    else if (nb.trainN + nb.testN != n) Some(s"stack A split ${nb.trainN}+${nb.testN} of $n")
    else if (!inBand(nb.f1)) Some(s"stack A NB F1 ${nb.f1} outside $F1Band")
    else None
  }

  override def ratios(inst: String => Seq[Instance]): Seq[(String, Double, String)] = {
    val d = inst("gd_dist")
    Seq(
      ("tweets.gd_dist.ms_per_iter", Stats.median(d.map(x => x.wallMs / x.notes("iters"))), "ms"),
      ("tweets.gd_dist.jobs_per_iter", Stats.median(d.map(x => x.jobs / x.notes("iters"))), "ratio"))
  }
}

/** Online reads against indexes built in set-up. Every fifth request
  * ingests an incoming 16-doc batch: curate it (language and quality
  * filter, exact dedup), then probe the near-dup index with the kept
  * documents. The other four are IVF searches of 8 query vectors.
  */
final class Lookup(spark: SparkSession, seed: Long, ph: Phases)
    extends Workload {
  val name = "lookup"
  val nVec = 4000
  val dim = 64
  val cells = 16
  val nDocs = 1500
  val querySets = 16
  val perSet = 8
  val k = 10
  val nProbe = 2
  // four 8-vector searches and one 16-doc probe per five requests
  val docsPerOp: Double = (4.0 * perSet + 16) / 5
  // set-up and its recall check already run the search path; one
  // warm-up cycle adds the ingest path
  val window = 5
  val warmWindows = 1
  val minWindows = 4
  val phases = Seq("knn", "curate", "dupprobe")
  override val setupPhases = Seq("ivf_build", "ndidx_build")
  private val NumHashes = 32
  private val RowsPerBand = 4
  private var truth: Gen.LookupTruth = _
  private var ivfPath = ""
  private var ndPath = ""
  private var corpusPath = ""
  private var centroids: Array[Array[Double]] = _
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var recall = 0.0
  private var order: IndexedSeq[Int] = IndexedSeq.empty

  def quality: Double = recall

  private def vectors(paths: String*): DataFrame =
    spark.read.schema(Workloads.VecSchema).json(paths: _*)

  private def neighbors(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("q_id"), col("n_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }

  def prepare(dir: String): Unit = {
    truth = Gen.lookup(seed, nVec, dim, clusters = 48, querySets, perSet, nDocs,
      batches = 8, s"$dir/in")
    ivfPath = s"$dir/idx/ivf"
    ndPath = s"$dir/idx/nd"
    val corpus = vectors(s"$dir/in/vectors.json")
    ph("ivf_build") {
      // Lloyd starts from the first `cells` corpus vectors; the
      // generator shuffles cluster membership across ids
      val init = corpus.filter(col("vec_id") < cells).orderBy(col("vec_id"))
        .collect().map(_.getSeq[Double](1).toArray)
      centroids = Similarity.collectCentroids(
        Similarity.lloydFit(corpus, col("embedding"), init, iters = 2))
      Similarity.ivfWriteIndex(corpus, centroids, ivfPath)
    }
    ph("ndidx_build") {
      val docs = spark.read.schema(Workloads.DocSchema).json(s"$dir/in/nd_docs.json")
      Dedup.writeNearDupIndexSets(
        Dedup.shingleSets(docs, "id", TextOps.tokenize(col("text"))),
        ndPath, NumHashes, RowsPerBand)
    }
    corpusPath = s"$dir/in/vectors.json"
    order = new scala.util.Random(seed).shuffle((0 until querySets).toVector)
  }

  /** IVF recall@k against exact search over the whole query pool. */
  override def setupCheck(): Unit = {
    val corpus = vectors(corpusPath)
    val queries = vectors(truth.queryFiles: _*)
    exact = neighbors(Similarity.bruteForceKnn(corpus, queries, k))
      .map { case (q, ns) => q -> ns.toSet }
    val approx = neighbors(Similarity.ivfSearchIndexed(spark, ivfPath,
      queries, centroids, k, nProbe))
    recall = exact.map { case (q, ns) =>
      approx.getOrElse(q, Nil).count(ns).toDouble }.sum / (exact.size * k)
  }

  def op(i: Int): Option[String] =
    if (i % 5 == 4) probe((i / 5) % truth.batchFiles.size) else search(order(i % querySets))

  private def search(s: Int): Option[String] = {
    val got = ph("knn") {
      val res = neighbors(Similarity.ivfSearchIndexed(spark, ivfPath,
        vectors(truth.queryFiles(s)), centroids, k, nProbe))
      ph.note("rows", res.values.map(_.size).sum.toDouble)
      res
    }
    val ids = (0 until perSet).map(j => Gen.QueryIdBase + s * perSet + j)
    val hits = ids.map(q => got.getOrElse(q, Nil).count(exact(q))).sum
    val r = hits.toDouble / (perSet * k)
    if (ids.exists(q => got.getOrElse(q, Nil).size != k)) Some(s"query set $s: not $k results per query")
    else if (r < 0.5) Some(s"query set $s: recall@$k $r")
    else None
  }

  private def probe(b: Int): Option[String] = {
    val batch = spark.read.schema(Workloads.DocSchema).json(truth.batchFiles(b))
    val curated = ph("curate") {
      val c = Curation.curate(batch, "id", "text").select(col("doc_id")).persist()
      c.count()
      c
    }
    val pairs = ph("dupprobe") {
      val kept = batch.join(curated.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      val res = Dedup.incrementalNearDupsSets(spark, ndPath,
        Dedup.shingleSets(kept, "id", TextOps.tokenize(col("text"))),
        NumHashes, RowsPerBand)
        .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ph.note("rows", res.size.toDouble)
      res
    }
    val keptIds = curated.collect().map(_.getLong(0)).toSet
    curated.unpersist()
    val planted = truth.planted(b)
    val found = (pairs intersect planted).size.toDouble / planted.size
    if (keptIds != truth.batchEnglish(b)) Some(s"batch $b: curate kept ${keptIds.size} docs, " +
      s"expected the ${truth.batchEnglish(b).size} English ones")
    else if (pairs.exists { case (a, x) => a >= Gen.IndexIdBase || x < Gen.IndexIdBase })
      Some(s"batch $b: pair outside batch x index")
    else if (found < 0.75) Some(s"batch $b: planted recall $found")
    else None
  }

  override def ratios(inst: String => Seq[Instance]): Seq[(String, Double, String)] =
    Seq("knn", "dupprobe").map { p =>
      (s"lookup.$p.rows_per_result",
        Stats.median(inst(p).map(x => x.recordsRead / math.max(1.0, x.notes("rows")))), "ratio")
    }
}
