package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharShingles, DotProduct, GramStats, WordGrams, WordShingles}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT dot_product(a,b)")`
  * works next to the Column API. Activate with either
  *
  *   builder.withExtensions(new GraftExtensions) ...
  *   // or
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * (the config form is what a cluster deployment would use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
    ext.injectFunction(GraftExtensions.wordShinglesDescriptor)
    ext.injectFunction(GraftExtensions.wordGramsDescriptor)
    ext.injectFunction(GraftExtensions.gramStatsDescriptor)
    ext.injectFunction(GraftExtensions.charShinglesDescriptor)
  }
}

object GraftExtensions {
  private def build(children: Seq[Expression]): Expression = {
    require(children.length == 2, "dot_product(a, b) takes two arrays")
    DotProduct(children.head, children(1))
  }

  private def literalWidth(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn width must be an integer literal, got $other")
  }

  private def buildShingles(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "word_shingles(text, n) takes a string and an integer literal")
    WordShingles(children.head, literalWidth("word_shingles", children(1)))
  }

  private def buildGrams(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "word_grams(text, n) takes a string and an integer literal")
    WordGrams(children.head, literalWidth("word_grams", children(1)))
  }

  private def buildGramStats(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "gram_stats(text, n) takes a string and an integer literal")
    GramStats(children.head, literalWidth("gram_stats", children(1)))
  }

  private[graft] val dotProductDescriptor = (
    new FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (children: Seq[Expression]) => build(children))

  private[graft] val wordShinglesDescriptor = (
    new FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => buildShingles(children))

  private[graft] val wordGramsDescriptor = (
    new FunctionIdentifier("word_grams"),
    new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
    (children: Seq[Expression]) => buildGrams(children))

  private def buildCharShingles(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "char_shingles(text, k) takes a string and an integer literal")
    CharShingles(children.head, literalWidth("char_shingles", children(1)))
  }

  private[graft] val charShinglesDescriptor = (
    new FunctionIdentifier("char_shingles"),
    new ExpressionInfo(classOf[CharShingles].getName, "char_shingles"),
    (children: Seq[Expression]) => buildCharShingles(children))

  private[graft] val gramStatsDescriptor = (
    new FunctionIdentifier("gram_stats"),
    new ExpressionInfo(classOf[GramStats].getName, "gram_stats"),
    (children: Seq[Expression]) => buildGramStats(children))

  /** Runtime registration on an already-built session (withExtensions
    * only binds at session construction; getOrCreate() on an existing
    * session silently ignores it). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", buildShingles, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_grams", buildGrams, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_stats", buildGramStats, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_shingles", buildCharShingles, "scala_udf")
  }
}
