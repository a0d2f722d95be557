package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

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
    GraftExtensions.codegenCache
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

  /** Entries of the JVM's codegen class cache: 15 times the ~124 and ~134
    * classes a warm pass of either perfbench workload cycles through.
    */
  private val CodegenCacheEntries = 2048

  /** Sizes Spark's codegen class cache once per JVM, from either way of
    * registering graft.
    *
    * Spark compiles every whole-stage and expression codegen class with
    * Janino into one JVM-wide LRU cache, sized by the static conf
    * `spark.sql.codegen.cache.maxEntries` (default 100). `CodeGenerator`'s
    * module initializer reads it, from `SQLConf.get`, once: at the JVM's
    * first compile. A warm pass of sql_analytics uses ~124 classes and one
    * of llm_ingest ~134; a cycle longer than an LRU almost never hits, so
    * at 100 entries each warm pass recompiled 97 and 103 of them, about a
    * third of a warm sql_analytics pass. The whole registry uses ~5000, so
    * a full-registry pass still recompiles.
    *
    * `SQLConf.get` returns the thread's existing conf before the active
    * session's, so initializing the module under a conf holding
    * [[CodegenCacheEntries]] sizes the cache. The module itself is touched
    * (a constant `final val` of it is inlined and would not initialize it).
    * This holds only where the JVM has compiled no class before graft
    * registers; otherwise the cache keeps the size it was built with.
    * `local[N]` is one JVM; the executors of a real cluster compile in
    * JVMs of their own and keep Spark's default.
    */
  private lazy val codegenCache: AnyRef = {
    val conf = new SQLConf
    conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    SQLConf.withExistingConf(conf)(CodeGenerator)
  }

  /** Register the engine's SQL functions on an existing session, sizing
    * the JVM's codegen cache first (see [[codegenCache]]).
    */
  def register(spark: SparkSession): Unit = {
    codegenCache
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
