package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed exact global ranking.
  *
  * `row_number()` over an unpartitioned window moves every row into one
  * task — the classic scale-killer. The distributed equivalent is the
  * textbook two-pass shape: range-repartition on the sort key (Spark's
  * RangePartitioner samples split points), sort within partitions, count
  * each partition, broadcast the prefix-sum offsets, and enumerate each
  * partition starting from its offset. Every stage is linear and
  * cluster-wide; nothing ever concentrates the data.
  *
  * The per-partition enumeration used to be an imperative `mapPartitions`
  * counter; since r16 it is a pure codegen projection over
  * `monotonically_increasing_id()` (which already encodes the partition
  * index and the task-local row counter) — same numbering, no
  * row-format round trip (guide §4: keep the hot path inside
  * whole-stage codegen).
  */
object Ranks {

  /** Append `rnCol` = 1-based global row number under the total order
    * `order`. Returns the numbered frame plus the total row count (known
    * for free from the counting pass). `order` must be a total order for
    * the numbering to be deterministic.
    *
    * Both passes are whole-stage-codegen DataFrame operators (r16, guide
    * §4/§1.2 "per-task work"): the previous `.rdd` form deserialized
    * every cached InternalRow to an external Row twice (counting pass +
    * enumeration pass) and re-encoded the whole relation through
    * `createDataFrame`, which also re-planned the downstream as an
    * opaque `LogicalRDD` (no column pruning into the cache scan).
    * Now the counting pass is a column-pruned aggregate over
    * `spark_partition_id()` and the enumeration is a pure projection:
    * `monotonically_increasing_id()` encodes exactly
    * (partition index << 33) | local row index on its task's iterator
    * order — the same (i, rn) pair the old mapPartitions counter
    * produced — so rn = offsets(pid) + local + 1 with the per-partition
    * offsets folded in as a literal array (bounded by the partition
    * count, same driver footprint as the old broadcast). The plan keeps
    * one WholeStageCodegen span over the cache scan instead of breaking
    * at `Scan ExistingRDD`/`SerializeFromObject`, and downstream column
    * pruning reaches the cache again (see SCALE.md's round-16 section;
    * the before/after plan dumps are recorded in commit 9de9dbf under
    * plans/r16/).
    */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column], rnCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // cached: consumed by the counting pass here and the enumeration pass
    // in the caller's action; released by the harness's post-query
    // Caches.releaseAll()
    val sorted = graft.Caches.persisted(
      df.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*))
    // per-partition counts: one column-pruned codegen aggregate over the
    // cache (collect is bounded by the partition count — driver holds
    // #partitions longs, exactly like the old offsets broadcast)
    val cntByPid = sorted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts = (0 until parts).map(i => cntByPid.getOrElse(i, 0L))
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
    val total = offsets.last
    // rn = offsets(pid) + local + 1, decoded from the task-local id:
    // monotonically_increasing_id() is (partition index << 33) | local
    // row index in iterator order — deterministic over the cached,
    // sorted partitions for the same reason the old per-partition
    // counter was.
    val mid = monotonically_increasing_id()
    val rn = element_at(
      array(offsets.dropRight(1).map(lit): _*),
      (shiftright(mid, 33) + 1).cast("int")) +
      mid.bitwiseAND(lit((1L << 33) - 1)) + 1
    (sorted.withColumn(rnCol, rn.cast(LongType)), total)
  }

  /** Distributed EXACT interpolated percentiles per group — the scale
    * path for what `percentile()` computes by buffering every group
    * value in one aggregation buffer (executor OOM once a group outgrows
    * memory). Shape: one distributed sort via [[withGlobalRowNumber]]
    * on (group, value) — groups are contiguous in the global order — a
    * tiny per-group (offset, size) aggregate, the two bracketing
    * positions per requested percentile computed from it, a broadcast
    * join back to fetch just those rows, and the standard linear
    * interpolation lower + frac·(upper − lower) (the same formula
    * `percentile` / DuckDB `quantile_cont` use). Nothing ever holds a
    * whole group. `value` must be non-null.
    *
    * Returns (group, p, v): one row per group × requested percentile.
    */
  def exactPercentiles(df: DataFrame, group: String, value: String,
      ps: Seq[Double]): DataFrame = {
    // The counting pass stays EAGER even though `total` is unused here
    // (r17 measured NEGATIVE result, guide §1.3): a lazy variant — pid
    // counts + a bounded running window + a broadcast join on the
    // decoded partition index — folded the blocking job group into the
    // final action but re-executed the whole offsets subtree once per
    // consumer of `numbered` (the pos aggregate AND the join-back):
    // q_mad_outlier went 26 → 50 jobs, task_ms 20.8 s → 67 s, wall
    // 3.1 s → 5.2 s. Literal offsets make re-evaluating `numbered`
    // nearly free; that matters more than one partition-count-sized
    // collect.
    val (numbered, _) = withGlobalRowNumber(
      df.select(col(group), col(value)), Seq(col(group), col(value)), "rn")
    // per-group start offset and size; 0-based index k = (m-1)·p brackets
    // between global rows lo = off + floor(k) and hi = off + min(floor(k)+1, m-1)
    // `pos` derives from `numbered`, so the group column is renamed to
    // break self-join lineage ambiguity
    val pos = numbered.groupBy(col(group))
      .agg(min(col("rn")).as("off"), count(lit(1)).as("m"))
      .select(col(group).as("pos_g"), col("off"), col("m"),
        explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("k", (col("m") - 1).cast("double") * col("p"))
      .withColumn("lo", col("off") + floor(col("k")).cast("long"))
      .withColumn("hi", col("off") +
        least(floor(col("k")).cast("long") + 1, col("m") - 1))
      .withColumn("frac", col("k") - floor(col("k")))
    numbered.join(broadcast(pos),
        numbered(group) === col("pos_g") &&
          (col("rn") === col("lo") || col("rn") === col("hi")))
      .groupBy(col("pos_g").as(group), col("p"))
      .agg(
        min(when(col("rn") === col("lo"), col(value))).as("lo_v"),
        min(when(col("rn") === col("hi"), col(value))).as("hi_v"),
        first(col("frac")).as("frac"))
      .select(col(group), col("p"),
        (col("lo_v") + col("frac") * (col("hi_v") - col("lo_v"))).as("v"))
  }
}
