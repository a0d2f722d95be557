package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property obligations for the dedup/topk operators (SURVEY.md §5.2):
  * dedup idempotence, topk ⊆ sort prefix, LSH candidate soundness.
  */
class DedupPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = Registry.byName("q_dedup_exact").build(spark, dir)
    // re-dedup the surviving doc ids joined back to their text
    val docs = Tables(spark, dir, "documents")
    val survivors = docs.join(once.select("doc_id"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val twice = survivors.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "lang", "source")
    assert(twice.count() === once.count())
    assert(twice.exceptAll(once.select("doc_id", "lang", "source")).count() === 0)
  }

  test("topk is a prefix of the full sort") {
    val topk = Registry.byName("q_topk").build(spark, dir).collect()
    val full = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        graft.functions.Portable.pround(col("o_totalprice"), 4).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10).collect()
    assert(topk.toSeq === full.toSeq)
  }

  test("minhash LSH candidates include every exact-duplicate pair") {
    // construct a frame with a known duplicate: doc 0's text under two ids
    import spark.implicits._
    val texts = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().take(20)
    val withDup = (texts :+ ((9999L, texts.head._2))).toSeq.toDF("doc_id", "text")
    val sh = withDup.select(col("doc_id"),
      explode(graft.functions.TextOps.distinctWordNGrams(col("text"), 3)).as("sh"))
    val cand = graft.operators.DedupQueries.minhashCandidates(sh)
    val pairs = cand.as[(Long, Long)].collect().toSet
    assert(pairs.contains((texts.head._1, 9999L)),
      s"identical docs must collide in every band; got $pairs")
  }

  test("connectedComponents labels every node with its cluster minimum") {
    import spark.implicits._
    // two chains and one isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L), (21L, 22L))
    val edges = pairs.toDF("src", "dst")
      .union(pairs.map(_.swap).toDF("src", "dst"))
    val cc = graft.operators.GraphQueries.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents refuses to return unconverged labels") {
    import spark.implicits._
    val pairs = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq // chain 1..9
    val edges = pairs.toDF("src", "dst")
      .union(pairs.map(_.swap).toDF("src", "dst"))
    intercept[IllegalStateException] {
      graft.operators.GraphQueries.connectedComponents(edges, maxRounds = 2)
    }
    // with enough rounds the same chain converges to min-label 1
    val cc = graft.operators.GraphQueries.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet === Set(1L))
  }

  test("connectedComponents converges on a long path in logarithmic rounds") {
    import spark.implicits._
    // Adversarial chain (crawl-mirror shape): diameter-bound hash-min
    // would need ~n rounds; the pointer-jumping shortcut must get there
    // in O(log n). 12 rounds ≫ log2(300) ≈ 8.2 and ≪ 300, so this fails
    // loudly (convergence guard throws) if the shortcut ever regresses.
    val n = 300L
    val pairs = (1L to n).sliding(2).map(s => (s.head, s.last)).toSeq
    val edges = pairs.toDF("src", "dst")
      .union(pairs.map(_.swap).toDF("src", "dst"))
    val cc = graft.operators.GraphQueries.connectedComponents(edges, maxRounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(cc.size === n.toInt)
    assert(cc.values.toSet === Set(1L))
  }

  test("connectedComponents == driver union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        // reference: driver-side union-find with min-label components
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = (es.flatMap(e => Seq(e._1, e._2)).distinct)
          .map(v => v -> find(v)).toMap
        val edges = es.toDF("src", "dst")
          .union(es.map(_.swap).toDF("src", "dst"))
        val got = graft.operators.GraphQueries.connectedComponents(edges)
          .as[(Long, Long)].collect().toMap
        got == want
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  // The loop's one driver-thread action is its per-round convergence
  // count(); its broadcast and exchange jobs run on AQE threads and carry
  // no call site of ours.
  private def loopJobs(r: QueryMetrics.Reading): Int =
    r.jobs.count(_.callSite.startsWith("count at GraphQueries.scala"))

  test("componentsOf == driver union-find on both paths, a 300-node path included") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    def agrees(es: List[(Long, Long)]): Boolean = {
      // reference: min-label union-find over a plain map
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = es.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
      val cand = es.toDF("doc_a", "doc_b")
      def got = graft.operators.GraphQueries.componentsOf(cand).as[(Long, Long)].collect().toMap
      got == want && TestSpark.withConf(threshold, "-1")(got) == want
    }
    assert(agrees((1L until 300L).map(i => (i, i + 1)).toList))
    val edgeGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(edgeGen)(es => es.isEmpty || agrees(es))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    Caches.releaseAll()
    assert(res.passed, res.status.toString)
  }

  test("componentsOf runs on the driver up to exactly autoBroadcastJoinThreshold / 16 pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val cand = pairs.toDF("doc_a", "doc_b")
    def run(bytes: Long): (Map[Long, Long], QueryMetrics.Reading) =
      TestSpark.withConf(threshold, bytes.toString) {
        val (rows, r) = QueryMetrics.measure(spark)(
          graft.operators.GraphQueries.componentsOf(cand).as[(Long, Long)].collect())
        (rows.toMap, r)
      }
    val (atBound, driver) = run(16L * pairs.size)
    val (overBound, loop) = run(16L * (pairs.size - 1))
    Caches.releaseAll()
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(atBound === want)
    assert(overBound === want)
    assert(loopJobs(driver) === 0, driver.jobs)
    assert(driver.jobs.map(_.callSite).forall(_.startsWith("collect at ")), driver.jobs)
    assert(loopJobs(loop) > 0, loop.jobs)
    assert(loop.jobs.size > driver.jobs.size)
  }

  test("q_cc_dedup builds without a connectedComponents round under the default bound") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, r) = QueryMetrics.measure(spark)(Registry.byName("q_cc_dedup").build(spark, dir))
    assert(loopJobs(r) === 0, r.jobs)
    // the candidate cache is released on return, not left to releaseAll
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("cc_dedup: exactly one canonical doc per component") {
    val cc = Registry.byName("q_cc_dedup").build(spark, dir)
    val perComp = cc.groupBy(col("component"))
      .agg(sum(col("is_canonical")).as("n_canon"), min(col("doc_id")).as("min_doc"))
      .collect()
    assert(perComp.nonEmpty)
    perComp.foreach { r =>
      assert(r.getAs[Long]("n_canon") === 1L)
      assert(r.getAs[Long]("min_doc") === r.getAs[Long]("component"))
    }
  }

  test("simhash of identical texts is identical") {
    val sims = Registry.byName("q_dedup_simhash").build(spark, dir)
    // deterministic: running twice yields byte-identical signatures
    val a = sims.collect().map(_.toSeq)
    val b = Registry.byName("q_dedup_simhash").build(spark, dir).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }
}
