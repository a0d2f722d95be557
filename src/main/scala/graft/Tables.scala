package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * All queries read tables exclusively through this object so that scan-level
  * concerns (the events nanosecond-timestamp quirk, future bucketing /
  * partition layout decisions) live in exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => spark.read.parquet(s"$sfDir/$n.parquet")
    }

  /** Spread a relation across the session's shuffle parallelism WHEN the
    * source gave it fewer splits — the small-unsplittable-file fix for
    * compute-bound scans: the driver fixtures are single-row-group
    * parquet, so Spark cannot split them, and without this a heavy
    * per-row scan stage (image/audio codecs, the bootstrap's 100-draw
    * projection) runs on ONE core regardless of local[N]. At production
    * scale inputs have thousands of row groups and `parts >= target`
    * makes this a no-op — the exchange only exists where the input is
    * pathologically under-split. Use ONLY under genuinely compute-bound
    * scans: a measured r9 experiment spreading EVERY cached table cost
    * the 200+ cheap queries ~0.3 s each in task overhead.
    *
    * Intended for freshly-loaded file scans (and narrow projections of
    * them) only: reading `df.rdd.getNumPartitions` physically plans the
    * upstream subtree once at build time and reflects the PRE-AQE split
    * count, so a wide/derived input would both pay that planning cost
    * and risk a stale estimate (ADVICE r9). Every current caller passes
    * a scan or a column-pruned scan, where the estimate is exact.
    */
  def spreadIfUnderSplit(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < math.max(2, target / 2)) df.repartition(target)
    else df
  }

  /** Size-gated [[spreadIfUnderSplit]] for map stages whose per-row work
    * is moderate (n-gram explodes, tokenize+chunk, per-char censuses):
    * the exchange only pays for itself once each task receives enough
    * input bytes. Measured both ways in round 10 (SCALE.md): at sf0.1
    * the unconditional spread REGRESSED the whole text family
    * ~0.3–0.7 s/query (exchange + 32-task overhead over ~0.7 MB of
    * text) while at sf1 it won 1.5–4 s/query — 64 KiB/task splits the
    * two regimes with 10× margin on both sides, cached or not. Codec
    * scans and digest grids, whose per-row compute dwarfs their bytes,
    * keep the unconditional variant. Logical stats cost nothing extra
    * here (`sizeInBytes` is computed on the already-analyzed plan).
    */
  def spreadIfUnderSplitAtScale(df: DataFrame,
      minBytesPerTask: Long = 64L << 10): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(target.toLong) * minBytesPerTask) spreadIfUnderSplit(df)
    else df
  }

  /** Driver-generated events.parquet has shipped `ts` in two vintages:
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects — read nanos
    * as a raw long (legacy flag) and truncate to microseconds, the identical
    * truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP — and plain
    * naive TIMESTAMP(MICROS), which reads directly as TIMESTAMP under the
    * session-wide `parquet.inferTimestampNTZ.enabled=false` + UTC pins, so
    * oracle comparisons stay exact either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw
    }
  }
}
