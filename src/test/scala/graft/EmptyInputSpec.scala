package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: every query must BUILD and EXECUTE
  * against empty tables without throwing — the situation every real
  * pipeline hits (an empty partition, a filter that matches nothing, a
  * brand-new corpus). Zero rows or a single all-NULL/zero summary row
  * are both acceptable; exceptions are not. This exercises every
  * division-by-zero / max-of-empty / head-of-empty guard in the suite
  * at once.
  *
  * Queries that look up a specific probe row by key (the KNN probe
  * vec_id = 0, k-means training on an empty relation) legitimately have
  * no answer on an empty corpus; those may also fail with a clear
  * NoSuchElement/empty-collection error, but never with an arithmetic
  * or null-pointer surprise.
  */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emptyDir: String = {
    val out = TestSpark.tempDir("empty")
    Tables.names.foreach { t =>
      val schema = spark.read.parquet(s"${TestSpark.sf0001}/$t.parquet").schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    out
  }

  // probe-by-key queries: an empty corpus genuinely has no probe row /
  // no trainable model; a clean empty-collection failure is acceptable
  private val probeShaped = Set(
    "q_knn_brute", "q_knn_lsh", "q_knn_ivf", "q_ann_recall",
    "q_kmeans_assign", "q_cluster_purity", "q_embed_quantize",
    "q_dedup_semantic", "q_knn_join", "q_dedup_embed_lsh")

  test("every declared query executes on fully-empty tables") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    Registry.all.foreach { q =>
      try {
        q.build(spark, emptyDir).collect()
      } catch {
        case e: Throwable =>
          val root = {
            var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause
            c
          }
          val benign = probeShaped(q.name) &&
            (root.isInstanceOf[NoSuchElementException] ||
              root.isInstanceOf[UnsupportedOperationException] ||
              root.getMessage != null && root.getMessage.contains("empty"))
          if (!benign) failures += s"${q.name}: ${root.getClass.getSimpleName}: ${root.getMessage}"
      } finally Caches.releaseAll()
    }
    assert(failures.isEmpty, s"${failures.size} queries broke on empty input:\n" +
      failures.mkString("\n"))
  }
}
