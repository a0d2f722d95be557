package graft

import graft.functions.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewAndSinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("saltedJoin == plain join (exact row multiset)") {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val plain = orders.join(customer,
      orders("o_custkey") === customer("c_custkey")).drop("c_custkey")
    val salted = Skew.saltedJoin(
      orders.withColumnRenamed("o_custkey", "k"),
      customer.withColumnRenamed("c_custkey", "k"), "k", 4)
      .withColumnRenamed("k", "o_custkey")
    assert(salted.count() === plain.count())
    assert(salted.select(plain.columns.map(col).toIndexedSeq: _*)
      .exceptAll(plain).count() === 0)
  }

  test("sink round-trip: parquet, csv, json, orc preserve q_agg_pricing") {
    val res = Registry.byName("q_agg_pricing").build(spark, dir)
    val tmp = TestSpark.tempDir("sinks")
    res.write.mode("overwrite").parquet(s"$tmp/p")
    res.write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
    res.write.mode("overwrite").json(s"$tmp/j")
    res.write.mode("overwrite").orc(s"$tmp/o")
    val p = spark.read.parquet(s"$tmp/p")
    val c = spark.read.schema(res.schema).option("header", "true").csv(s"$tmp/c")
    val j = spark.read.schema(res.schema).json(s"$tmp/j")
    val o = spark.read.orc(s"$tmp/o")
    val want = res.collect().map(_.toSeq).toSet
    assert(p.collect().map(_.toSeq).toSet === want)
    assert(c.collect().map(_.toSeq).toSet === want)
    assert(j.collect().map(_.toSeq).toSet === want)
    assert(o.collect().map(_.toSeq).toSet === want)
  }

  test("hive-partitioned parquet layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val tmp = TestSpark.tempDir("part")
    Tables(spark, dir, "orders")
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(tmp)
    val df = spark.read.parquet(tmp).filter(col("status") === "F")
      .select(col("o_orderkey"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the partition predicate must land INSIDE the PartitionFilters
    // bracket (directory pruning — at 100 TB this is the difference
    // between reading one partition and the whole table); an empty
    // "PartitionFilters: []" with a post-scan Filter must fail here
    assert("PartitionFilters: \\[[^\\]]*status".r.findFirstIn(plan).isDefined,
      s"partition filter not pushed to the scan:\n$plan")
    val want = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").count()
    assert(df.count() === want)
  }

  test("LSH-bucket-partitioned vector layout prunes a probe to one bucket") {
    // SCALE.md's similarity-search claim made concrete: "at 100 TB the
    // bucket id becomes a partition column so the scan prunes to one
    // bucket". Write embeddings partitioned by the SAME 4-plane bucket
    // q_knn_lsh derives, probe one bucket, and demand directory pruning.
    import graft.functions.VectorOps
    val signs = operators.VectorQueries.planeSigns(4, 64)
    val bucket = concat(signs.map(s =>
      when(VectorOps.signedDot(col("embedding"), s.toArray) > 0, lit("1"))
        .otherwise(lit("0"))): _*)
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), bucket.as("bk"))
    val tmp = TestSpark.tempDir("lshpart")
    e.write.mode("overwrite").partitionBy("bk").parquet(tmp)
    val probeBk = e.filter(col("vec_id") === 0).select(col("bk")).head().getString(0)
    val pruned = spark.read.parquet(tmp).filter(col("bk") === probeBk)
      .select(col("vec_id"))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bk".r.findFirstIn(plan).isDefined,
      s"bucket filter not pruned at the scan:\n$plan")
    // the pruned read is exactly the probe's candidate set
    val want = e.filter(col("bk") === probeBk).select(col("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === want)
  }
}
