package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session cache hygiene, mirroring the reference's job lifecycle: its
  * `closeJobHandle` frees every intermediate a finished job pinned
  * (`MapReduceFramework.cpp:355-384`). Here the equivalent contract is:
  * run a query, consume it, call `Caches.releaseAll()` — and the session
  * holds zero persistent RDDs afterwards, so a long-lived session running
  * the whole registry never accumulates storage blocks (the round-4
  * driver-bench pathology where leaked caches taxed unrelated queries).
  *
  * QueriesSpec asserts this after every one of the registry's queries;
  * this spec exercises the persist-heaviest family back-to-back in one
  * session — the worst case for accumulation — and the release
  * idempotence the harness relies on.
  */
class SessionLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  // Every operator that registers persisted/checkpointed intermediates
  // or an explicit broadcast with Caches.
  private val persistHeavy = Seq(
    "q_cc_dedup", "q_corpus_pipeline", "q_pagerank", "q_graph_degree",
    "q_lm_perplexity", "q_ngram_coverage", "q_pmi_collocations",
    "q_percentile", "q_decile_stats")

  // The dedup closure's candidate graph fits the broadcast bound at this
  // scale; with broadcasts off it runs the connected-components loop.
  private val loopForced = Seq("q_cc_dedup", "q_corpus_pipeline")

  private def runAndRelease(name: String): Unit = {
    assert(Registry.byName(name).build(spark, dir).count() > 0)
    Caches.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"$name leaked ${leaked.size} persistent RDDs: ${leaked.keys.mkString(",")}")
  }

  test("persist-heavy queries leave no storage blocks after release") {
    persistHeavy.foreach(runAndRelease)
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      loopForced.foreach(runAndRelease)
    }
  }

  test("releaseAll is idempotent and safe when nothing is registered") {
    Caches.releaseAll()
    Caches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
