package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Every main, tool and spec
  * runs on these confs, so no plan depends on which entry point built
  * its session. Callers choose only the parallelism.
  */
object Session {
  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** The bench contract's parallelism: every core, up to 32. */
  def allCores: Int = math.min(32, Runtime.getRuntime.availableProcessors())

  /** This JVM's warehouse: a fresh directory under `java.io.tmpdir`,
    * removed at exit, so managed tables never land in the working
    * directory and never outlive the JVM that wrote them.
    */
  private lazy val warehouse: String = operators.Stores.tempDir("warehouse")

  /** A `local[cpus]` session with `cpus` shuffle partitions and the
    * engine's SQL functions and rewrite rule registered.
    */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // let AQE re-plan partition counts inside cached-plan materializations
      // (off by default): at 100 TB it sizes post-shuffle partitions by
      // bytes; at bench scale it coalesces the 32-way shuffles of tiny
      // iteration vectors that otherwise pay pure scheduling overhead
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the driver's synthetic parquet carries naive timestamp[us] columns;
      // read them as session-UTC instants (TIMESTAMP) rather than NTZ so
      // unix_micros/window/etc. keep their types — identical values under
      // the pinned UTC session timezone
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // nanos-vintage events.parquet reads `ts` as a raw long (Tables.events);
      // pinned here so no read writes the conf of a live session, and the
      // schema memo's conf key stays the same before and after events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // registered at construction so no plan depends on which query
    // touched the function registry first (ADVICE r9)
    plans.GraftExtensions.register(spark)
    spark
  }

  /** Cache every input table of `dir`, as the reference engine holds its
    * whole input in memory. Spark's CacheManager then substitutes the
    * InMemoryRelation into every query that scans the same file. A table
    * whose file is absent from `dir` is skipped; any other failure
    * (a corrupt footer, OOM, an interrupt) propagates.
    */
  def cacheTables(spark: SparkSession, dir: String): Unit =
    Tables.names.filter(Tables.exists(spark, dir, _))
      .foreach(n => Tables(spark, dir, n).cache().count())
}
