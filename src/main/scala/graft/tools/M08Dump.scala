package graft.tools

/** Emits the golden values for m08's gate row (queries/M08Golden):
  * per-optimizer confusion counts, split sizes, the cost-curve head
  * and the final cost for the 1000→128→2 net (`RDD_NN.py:214-350`)
  * — the M07Dump discipline applied to the NN stack. Run a few
  * times (and across local[4]/[8]/[32] via SPARK_GRAFT_CPUS);
  * everything but the costs must be bit-identical, the costs may
  * jitter in their final ULPs (driver-merge arrival order of the 8
  * training partials), which is why the gate band-checks them.
  */
object M08Dump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-m08-dump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    // NN featurization: 1000-word vocabulary from DISASTER tweets
    // only (RDD_NN.py:320-322), TF-IDF over all docs
    val fz = graft.features.RddPipeline.featurize(spark,
      graft.core.Csv.TrainCsv, dim = 1000, dictFilter = Some("1"))
    // Same deterministic split + pinned layout as the gate row —
    // shared via RddPipeline.gateSplit so they cannot drift.
    val (tr, testing) = graft.features.RddPipeline.gateSplit(fz.data)
    val trainN = tr.persist().count()
    val testN = testing.persist().count()
    println(s"[m08dump] train_n=$trainN test_n=$testN")
    for (opt <- Seq("SGD", "Adam")) {
      // localFinishRows = 0: goldens stay anchored to the DISTRIBUTED
      // job shape (the round-15 bounded local finish reproduces them
      // within the gate bands — GdLocalParitySpec)
      val res = graft.gd.TwoLayerNet.train(tr,
        graft.gd.TwoLayerNet.Config(optimizer = opt),
        localFinishRows = 0L)
      val c = graft.gd.TwoLayerNet.evaluate(testing, res.params)
      println(s"[m08dump] $opt tp=${c.tp} tn=${c.tn} fp=${c.fp} fn=${c.fn}")
      println(s"[m08dump] $opt accuracy=${c.accuracy} f1=${c.f1}")
      println(s"[m08dump] $opt costsHead=" +
        res.costs.take(5).map(_.toString).mkString(","))
      println(s"[m08dump] $opt lastCost=${res.costs.last}")
    }
    tr.unpersist(); testing.unpersist(); fz.release()
    spark.stop()
  }
}
