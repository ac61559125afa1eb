package graft.gd

/** A featurized document: sparse TF-IDF vector + numeric label.
  * `indices` sorted ascending; `values` aligned. Sparse because tweets
  * touch ~15 of 10k vocabulary slots — dense rows at 100 TB would be
  * ~60× the memory/shuffle volume (SURVEY.md §4).
  */
case class SparseDoc(
    id: String,
    label: Double,
    indices: Array[Int],
    values: Array[Double]) {

  def dot(coef: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < indices.length) {
      s += values(k) * coef(indices(k))
      k += 1
    }
    s
  }
}

object SparseDoc {

  /** Row count and estimated driver-side bytes (48 B of object
    * headers, 2 B per id char, 12 B per index/value pair) in one job —
    * the two bounds of the trainers' local-finish gate.
    */
  def rowsAndBytes(rdd: org.apache.spark.rdd.RDD[SparseDoc]): (Long, Double) =
    rdd.aggregate((0L, 0.0))(
      (acc, d) => (acc._1 + 1L,
        acc._2 + (48L + 2L * d.id.length + 12L * d.indices.length).toDouble),
      (a, b) => (a._1 + b._1, a._2 + b._2))
}
