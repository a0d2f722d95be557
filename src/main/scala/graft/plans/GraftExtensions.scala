package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook registering the engine's native expressions
  * for SQL use: pass it to a session builder's `withExtensions`, or call
  * `register(spark)` on a built session (as [[graft.Session]] does), then
  *
  * {{{
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineSim)
    e.injectFunction(GraftExtensions.wordNGrams)
    e.injectFunction(GraftExtensions.tokenStats)
    e.injectOptimizerRule(_ => NativeTextRewrite)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val cosineSim = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1)))

  /** word_ngrams(text, n [, distinct=1]) — n and distinct must be literals. */
  private val wordNGrams = (
    FunctionIdentifier("word_ngrams"),
    new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
    (exprs: Seq[Expression]) => WordNGrams(
      exprs(0),
      intLit(exprs(1), "n"),
      distinct = exprs.length < 3 || intLit(exprs(2), "distinct") != 0))

  private val tokenStats = (
    FunctionIdentifier("token_stats"),
    new ExpressionInfo(classOf[TokenStats].getName, "token_stats"),
    (exprs: Seq[Expression]) => TokenStats(exprs(0)))

  /** Register the engine's SQL functions on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => cosineSim._3(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "word_ngrams", exprs => wordNGrams._3(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "token_stats", exprs => tokenStats._3(exprs), "built-in")
    if (!spark.experimental.extraOptimizations.contains(NativeTextRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ NativeTextRewrite
  }
}
