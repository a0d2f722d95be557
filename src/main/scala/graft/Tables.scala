package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * Every fixture read goes through this object, the streaming events
  * source included, so that scan-level concerns (the events
  * nanosecond-timestamp quirk, the schema memo, future bucketing /
  * partition layout decisions) live in exactly one place.
  *
  * Schema memo: a parquet read without a schema starts a one-task Spark
  * job to read the file footer, on every query build, cached table or
  * not. Each read here supplies the file schema instead, from one
  * JVM-wide memo keyed on
  *   - the path exactly as the caller gave it (a symlink is an entry of
  *     its own),
  *   - the (name, length, mtime) of every leaf file under that path, so
  *     a rewritten file or an overwritten directory misses, and
  *   - the session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  *     confs, which decide how a footer maps to Spark types.
  * This is catalog metadata, the schema a metastore would hold for the
  * table. It is not result caching: no data is kept, and every scan
  * reads the files as before. The memo holds strings and schemas only,
  * never a session.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => parquet(spark, path(sfDir, n))
    }

  private def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Whether table `name` has a file in `sfDir`. */
  def exists(spark: SparkSession, sfDir: String, name: String): Boolean =
    leaves(spark, path(sfDir, name)).nonEmpty

  private final case class Leaf(name: String, length: Long, mtime: Long)

  /** (path, parquet confs) → (the leaf files the schema was read from, schema).
    * A changed listing replaces the entry, so a path holds one entry per
    * conf set however often its files are rewritten.
    */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Seq[Leaf], StructType)]()

  /** The files under `path` (the file itself for a plain file), sorted by
    * name; empty when nothing exists there.
    */
  private def leaves(spark: SparkSession, path: String): Seq[Leaf] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(Leaf(st.getPath.toString, st.getLen, st.getModificationTime))
      else {
        val it = fs.listFiles(p, true)
        val out = Seq.newBuilder[Leaf]
        while (it.hasNext) {
          val f = it.next()
          out += Leaf(f.getPath.toString, f.getLen, f.getModificationTime)
        }
        out.result().sortBy(_.name)
      }
    } catch { case _: FileNotFoundException => Nil }
  }

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** `path` read as parquet with its schema taken from the memo. When
    * nothing exists at `path`, Spark's own read raises its usual error.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val files = leaves(spark, path)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val key = (path, parquetConfs(spark))
      val memo = schemas.get(key)
      val schema =
        if (memo != null && memo._1 == files) memo._2
        else {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, (files, inferred))
          inferred
        }
      spark.read.schema(schema).parquet(path)
    }
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

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Driver-generated events.parquet has shipped `ts` in two vintages:
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects — read nanos
    * as a raw long (legacy flag) and truncate to microseconds, the identical
    * truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP — and plain
    * naive TIMESTAMP(MICROS), which reads directly as TIMESTAMP under the
    * session-wide `parquet.inferTimestampNTZ.enabled=false` + UTC pins, so
    * oracle comparisons stay exact either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = withMicrosTs(eventsFile(spark, sfDir))

  /** events.parquet as its file holds it: `ts` is a raw long in the nanos
    * vintage. `Session` pins the legacy flag at build; a session built
    * elsewhere gets it set once, on its first events read.
    */
  private[graft] def eventsFile(spark: SparkSession, sfDir: String): DataFrame = {
    if (!spark.conf.getOption(NanosAsLong).contains("true")) spark.conf.set(NanosAsLong, "true")
    parquet(spark, path(sfDir, "events"))
  }

  /** Truncate a nanos-vintage raw-long `ts` to a microsecond TIMESTAMP;
    * a µs-vintage `ts` already is one and passes through.
    */
  private[graft] def withMicrosTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw
    }
}
