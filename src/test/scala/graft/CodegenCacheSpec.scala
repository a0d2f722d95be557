package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions.register` sizes the JVM's codegen class cache: a pass
  * over more generated classes than Spark's default 100 entries compiles
  * nothing when it is repeated.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** perfbench's sql_analytics and llm_ingest queries. */
  private val ids = Seq(
    "q_tpch_q3", "q_tpch_q6", "q_tpch_q14", "q_join_outer", "q_join_semi",
    "q_window_rank", "q_rollup", "q_cube", "q_grouping_sets",
    "q_mr_char_count", "q_cc_dedup", "q_nucleus_vocab", "q_ann_store_append")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while every id is built and collected once. */
  private def pass(): Long = {
    val before = compiles
    ids.foreach { id =>
      Registry.byName(id).build(spark, TestSpark.sf0001).collect()
      Caches.releaseAll()
    }
    compiles - before
  }

  test("a repeated pass over more than 100 generated classes compiles none") {
    spark // built through graft.Session, which registers graft
    // Other suites in this JVM may have compiled these ids' classes
    // already: empty Spark's private cache so the first pass is cold.
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val cold = pass()
    assert(cold > 100, "the cycle must exceed Spark's default cache size")
    assert(pass() === 0L)
  }
}
