package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.text.Lemmatizer

/** Native Catalyst expression for the WordNet-morphy noun lemmatizer
  * (SURVEY.md §2.8 F2 — the one scalar op a Scala UDF used to cover).
  *
  * As a static call it participates in whole-stage codegen: the
  * generated Java calls the lemma function directly — no ScalaUDF
  * closure dispatch, no encoder/decoder round-trip per row, and the
  * surrounding projection stays in one codegen span. Composes with
  * higher-order functions (`transform`) for array columns, so the
  * whole RDD-stack tokenize chain is now UDF-free.
  */
case class LemmatizeWord(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(LemmatizeWordImpl.getClass, StringType, "lemma",
      Seq(child), returnNullable = false)
  override def prettyName: String = "graft_lemmatize"

  override protected def withNewChildInternal(
      newChild: Expression): LemmatizeWord = copy(child = newChild)
}

object LemmatizeWordImpl {
  def lemma(word: UTF8String): UTF8String =
    UTF8String.fromString(Lemmatizer.lemma(word.toString))
}
