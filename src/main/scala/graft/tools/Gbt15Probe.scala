package graft.tools

import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassifier}

/** Round-15 m06/m05 probe: can an EXECUTION-strategy knob speed up
  * the pinned-model tree fits without changing the fitted model?
  * Candidates (both documented as strategy, not semantics):
  *   - cacheNodeIds: per-instance node-id cache instead of re-
  *     traversing trees to route rows each level;
  *   - maxMemoryInMB: how many tree nodes share one stats-aggregation
  *     pass (grouping only — the stats themselves are exact sums).
  * Model identity is asserted the TreeParProbe way — full structure
  * dump (header line stripped: toDebugString embeds the random model
  * uid there) plus tree weights — on the EXACT m06 fit input
  * (1-partition featurized frame, seeded split). Also decomposes the
  * boosting cost by maxIter (1/5/20) to locate the per-round floor.
  *
  * Usage: runMain graft.tools.Gbt15Probe
  */
object Gbt15Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-gbt15-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[gbt15] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
    val raw = graft.core.Csv.tweets(spark, graft.core.Csv.TrainCsv)
    val featurized = graft.ml.TweetPipeline.featurize(raw)
    val Array(training, testing) =
      featurized.randomSplit(Array(0.8, 0.2), 123L)
    training.persist().count()

    // drop each tree's header line: toDebugString embeds the random
    // model uid there, which differs per fit even for identical trees
    def stripUid(s: String): String =
      s.linesIterator.drop(1).mkString("\n")
    def structG(m: org.apache.spark.ml.classification
        .GBTClassificationModel): String =
      m.trees.map(t => stripUid(t.toDebugString)).mkString("|")
    def structR(m: org.apache.spark.ml.classification
        .RandomForestClassificationModel): String =
      m.trees.map(t => stripUid(t.toDebugString)).mkString("|")
    def sig(m: org.apache.spark.ml.classification.GBTClassificationModel)
        : String =
      s"structHash=${structG(m).hashCode} " +
        s"weights=${m.treeWeights.toSeq.hashCode}"

    // per-round decomposition
    for (it <- Seq(1, 5)) {
      val m = timed(s"gbt maxIter=$it")(
        new GBTClassifier().setMaxIter(it).fit(training))
      println(s"[gbt15] maxIter=$it ${sig(m)}")
    }

    var base: org.apache.spark.ml.classification.GBTClassificationModel =
      null
    for ((tag, est) <- Seq[(String, GBTClassifier)](
        ("default", new GBTClassifier()),
        ("default(repeat)", new GBTClassifier()),
        ("cacheNodeIds", new GBTClassifier().setCacheNodeIds(true)),
        ("maxMem1024", new GBTClassifier().setMaxMemoryInMB(1024)),
        ("cache+maxMem", new GBTClassifier().setCacheNodeIds(true)
          .setMaxMemoryInMB(1024)))) {
      val m = timed(s"gbt fit $tag")(est.fit(training))
      if (base == null) base = m
      val same = structG(m) == structG(base) &&
        m.treeWeights.sameElements(base.treeWeights)
      println(s"[gbt15] $tag ${sig(m)} same-as-default=$same")
    }

    // rf: same knobs on the m05 shape
    var rfBase: org.apache.spark.ml.classification
      .RandomForestClassificationModel = null
    for ((tag, est) <- Seq[(String, RandomForestClassifier)](
        ("rf default", new RandomForestClassifier()),
        ("rf cacheNodeIds", new RandomForestClassifier()
          .setCacheNodeIds(true)),
        ("rf maxMem1024", new RandomForestClassifier()
          .setMaxMemoryInMB(1024)))) {
      val m = timed(s"fit $tag")(est.fit(training))
      if (rfBase == null) rfBase = m
      val same = structR(m) == structR(rfBase)
      println(s"[gbt15] $tag structHash=${structR(m).hashCode} " +
        s"same-as-default=$same")
    }
    spark.stop()
  }
}
