package graft

import graft.mapreduce.MapReduce
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Golden fixture from the reference's SampleClient (FIXTURES.md §A) plus
  * the property obligations of SURVEY.md §5.2: the facade must equal the
  * declarative explode+groupBy result, and every key must appear in exactly
  * one group (the documented contract the reference's shuffle can violate).
  */
class MapReduceFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def charCountFacade(inputs: Seq[String]): Map[String, Long] =
    MapReduce.mapReduce(inputs.toDS()) { s =>
      s.iterator.map(c => (c.toString, 1L))
    } { (ch, counts) => Iterator.single((ch, counts.sum)) }
      .collect().toMap

  test("golden: SampleClient.cpp:74-79 fixture") {
    val got = charCountFacade(Seq("aaabbvvab", "dddjjj", "jjjdddd"))
    assert(got === Map("a" -> 4L, "b" -> 3L, "d" -> 7L, "j" -> 6L, "v" -> 2L))
  }

  test("golden: whitespace-variant fixture (SampleClient/SampleClient.cpp:74-76)") {
    val inputs = Seq("This string is full of characters",
      "Multithreading is awesome", "race conditions are bad")
    val expected = inputs.flatten.groupBy(_.toString).view.mapValues(_.size.toLong).toMap
    assert(charCountFacade(inputs) === expected)
  }

  test("aggregating path == general path == declarative groupBy") {
    val inputs = Seq("aaabbvvab", "dddjjj", "jjjdddd", "", "zz zz")
    val viaAgg = MapReduce.mapReduceAgg(inputs.toDS()) { s =>
      s.iterator.map(c => (c.toString, 1L))
    }(0L)((b, v) => b + v)((a, b) => a + b)(identity).collect().toMap
    val viaSql = inputs.toDF("s")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"s", "")).as("ch"))
      .filter($"ch" =!= "")
      .groupBy("ch").count()
      .as[(String, Long)].collect().toMap
    assert(charCountFacade(inputs) === viaSql)
    assert(viaAgg === viaSql)
  }

  test("property: facade == in-memory count; every key in exactly one group") {
    val genStrings = Gen.listOfN(8, Gen.listOfN(12, Gen.alphaLowerChar).map(_.mkString))
    val prop = Prop.forAll(genStrings) { inputs =>
      val rows = MapReduce.mapReduce(inputs.toDS()) { s =>
        s.iterator.map(c => (c.toString, 1L))
      } { (ch, vs) => Iterator.single((ch, vs.sum)) }.collect()
      val expected = inputs.flatten.groupBy(_.toString).view.mapValues(_.size.toLong).toMap
      // one row per key (no fragmented groups) and exact counts
      rows.map(_._1).distinct.length == rows.length && rows.toMap == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("map may emit zero pairs; reduce may emit many (UDTF shape)") {
    val out = MapReduce.mapReduce(Seq("ab", "", "b").toDS()) { s =>
      s.iterator.filter(_ != 'a').map(c => (c.toString, 1L))
    } { (ch, vs) => val n = vs.sum; Iterator.fill(2)((ch, n)) }.collect()
    assert(out.count(_._1 == "b") === 2)
    assert(!out.exists(_._1 == "a"))
  }

  test("q_mr_char_count's plan text names the facade's functions, not per-run lambda classes") {
    val df = Registry.byName("q_mr_char_count").build(spark, TestSpark.sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("$Lambda"), plan)
    assert(plan.contains("MapReduce.reduce"), plan)
  }
}
