package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native single-pass kernel for t20's bigram-LM scoring: walk the
  * token array once, look each adjacent pair up in the (bounded)
  * model map, fold the log-probs left-to-right and round the mean
  * once — no gram-string array, no `sequence` index array, no lambda
  * frames per element.
  *
  * Value-identical to the composed form
  * `Analysis.unigramAvgLogProb(Analysis.ngrams(toks, 2), model,
  * floor)` (parity on random corpora in ExpressionSpec): same
  * "w1 w2" key identity (whitespace-split tokens cannot contain a
  * space), same 0.0-seeded left-to-right double fold, and the mean
  * rounds via the exact `Round` formula Catalyst applies to doubles
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`). The composed form
  * built ~|tokens| gram strings per row through three Catalyst HOFs
  * and measured 6.2 s of t20's 19.8 s at sf0.1.
  *
  * Returns struct(n_bigrams int, avg_logprob double); docs with
  * fewer than 2 tokens score (0, 0.0) — the composed `when` guard.
  */
case class BigramLogProbExpr(child: Expression,
    model: Map[String, Double], floorLp: Double)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(BigramLogProbImpl.getClass, BigramLogProbExpr.OutType,
      "score", Seq(child, Literal.fromObject(BigramTable(model),
        ObjectType(classOf[BigramTable])), Literal(floorLp)),
      returnNullable = false)
  override def prettyName: String = "graft_bigram_logprob"

  override protected def withNewChildInternal(
      newChild: Expression): BigramLogProbExpr = copy(child = newChild)
}

object BigramLogProbExpr {
  val OutType: StructType = StructType(Seq(
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("avg_logprob", DoubleType, nullable = false)))
}

/** The bigram model as a state literal (see [[StopWords]]). */
final case class BigramTable(model: Map[String, Double]) {
  @transient lazy val table: java.util.HashMap[String, java.lang.Double] = {
    val t = new java.util.HashMap[String, java.lang.Double]()
    model.foreach { case (k, v) => t.put(k, java.lang.Double.valueOf(v)) }
    t
  }
  override def toString: String = s"BigramTable(${model.size} bigrams)"
}

object BigramLogProbImpl {
  def score(arr: ArrayData, model: BigramTable,
            floorLp: Double): InternalRow = {
    val table = model.table
    val n = arr.numElements()
    if (n < 2)
      return new GenericInternalRow(Array[Any](0, 0.0))
    var acc = 0.0
    var prev = arr.getUTF8String(0).toString
    var i = 1
    while (i < n) {
      val cur = arr.getUTF8String(i).toString
      val lp = table.get(prev + " " + cur)
      acc += (if (lp == null) floorLp else lp.doubleValue())
      prev = cur
      i += 1
    }
    // exactly Catalyst Round(double, 6): BigDecimal.valueOf + HALF_UP
    val mean = java.math.BigDecimal.valueOf(acc / (n - 1))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](n - 1, mean))
  }
}
