package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Caches, Registry, Tables}
import graft.jobs.Jobs
import graft.plans.GraftExtensions

/** The measuring half of the benchmark: one JVM, one `local[N]` session,
  * the workload's queries submitted one at a time through graft's public
  * surface (Registry → build → full-result `collect()` → Caches.releaseAll).
  *
  * It writes raw samples (`result.json`); `run.py` turns them into metrics
  * and checks the collected results against the DuckDB oracles.
  *
  * Arguments are `key=value` pairs, written by `run.py`:
  *   queries, tables, data, out, tmp, warmup (unmeasured passes after
  *   the cold one), passes (measured passes after those), trace, cpus,
  *   setups,
  *   cache (tables cached in set-up), fresh (inputs through a fresh path
  *   every pass), jobs (submit through `Jobs.start`), and the query sets
  *   the layer metrics are taken over: graph, functions, mapreduce.
  */
object Harness {
  val PropQuery = "perfbench.query"
  val PropPass = "perfbench.pass"
  val PropPhase = "perfbench.phase"
  val PropSpan = "perfbench.span"

  private val mb = 1024.0 * 1024.0

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

  /** One execution of one query. Times are wall-clock ms. */
  final class Exec(val query: String, val pass: Int) {
    var ok = false
    var error = ""
    var ms, buildMs, planMs, execMs, releaseMs, cpuMs = 0.0
    var jobsStartMs, pollNs = 0.0
    var polls = 0
    var rows = 0
    var hash = 0
    var fingerprint = ""
  }

  final case class Setup(buildMs: Double, extensionsMs: Double, openMs: Double,
      cacheMs: Double, cachedMb: Double) {
    def totalS: Double = (buildMs + extensionsMs + openMs + cacheMs) / 1000
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    def list(k: String) = a.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // run.py holds the other end of stdin: when it ends, however it ends,
    // the harness ends too rather than run on (or wait for its oracle
    // check) without it.
    val orphaned = new Thread(() => {
      while (System.in.read() >= 0) {}
      System.err.println("[perfbench] run.py has gone; exiting")
      sys.exit(3)
    })
    orphaned.setDaemon(true)
    orphaned.start()
    new Harness(
      queries = list("queries"), tables = list("tables"), data = a("data"),
      out = Paths.get(a("out")), tmp = Paths.get(a("tmp")),
      warmup = a("warmup").toInt, passes = a("passes").toInt,
      trace = a("trace") == "1",
      cpus = a("cpus").toInt, setups = a("setups").toInt,
      cache = a("cache") == "1", fresh = a("fresh") == "1",
      viaJobs = a("jobs") == "1", graphQ = list("graph").toSet,
      functionsQ = list("functions").toSet, mapreduceQ = list("mapreduce").toSet
    ).run()
  }

  /** Minimal JSON writer for the harness's own output. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** Order-sensitive hash of a collected result that is stable across
    * passes (arrays hash by content, not identity).
    */
  def resultHash(rows: Array[Row]): Int = {
    import scala.util.hashing.MurmurHash3
    def h(v: Any): Int = v match {
      case null => 0
      case r: Row => MurmurHash3.orderedHash(r.toSeq.map(h))
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.map(h))
      case m: scala.collection.Map[_, _] =>
        MurmurHash3.unorderedHash(m.map { case (k, x) => (h(k), h(x)) })
      case d: Double => java.lang.Double.hashCode(d)
      case x => x.##
    }
    MurmurHash3.orderedHash(rows.iterator.map(h))
  }

  /** Physical plan with everything that names one run rather than one plan
    * stripped, so two passes of an unchanged plan hash the same: expression
    * and plan ids, AQE query-stage and codegen-stage numbers (they follow
    * materialization order), input paths, and the application/input token
    * in store table names.
    */
  def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.treeString
      .replaceAll("#\\d+L?", "")
      .replaceAll("(plan_id|id)=#?\\d+", "$1")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("file:[^,\\]\\s]*", "file")
      .replaceAll("local[-_]\\d+_[0-9a-f]{16}", "token")
      .replaceAll("@[0-9a-f]{6,}", "")
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(plan.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}

final class Harness(queries: Seq[String], tables: Seq[String], data: String,
    out: Path, tmp: Path, warmup: Int, passes: Int, trace: Boolean, cpus: Int,
    setups: Int, cache: Boolean, fresh: Boolean, viaJobs: Boolean,
    graphQ: Set[String], functionsQ: Set[String], mapreduceQ: Set[String]) {
  import Harness._

  private val mx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epochOffsetMs + System.nanoTime() / 1e6
  private val spanIds = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val runId = java.util.UUID.randomUUID().toString
  private val recorder = new Recorder

  private def span(parent: Long, kind: String, name: String)(body: Long => Unit): Double = {
    val id = spanIds.getAndIncrement()
    val t0 = nowMs
    try body(id)
    finally if (trace) spans.add(Span(id, parent, kind, name, t0, nowMs))
    nowMs - t0
  }

  private def newSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.local.dir", tmp.resolve("local").toString)
      .getOrCreate()
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / mb

  /** Session build → extensions → open (and cache) the workload's tables.
    * Returns the session ready for the first query.
    */
  private def setUp(i: Int, runSpan: Long, keep: Boolean): (SparkSession, Setup) = {
    var spark: SparkSession = null
    var frames: Seq[DataFrame] = Nil
    var build, ext, open, cacheMs = 0.0
    span(runSpan, "setup", s"setup-$i") { id =>
      build = span(id, "session", "build")(_ => spark = newSession())
      // run.py removes the /tmp store workspaces named after these ids
      Files.writeString(out.resolve("app_ids"), spark.sparkContext.applicationId + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      spark.sparkContext.setLogLevel("WARN")
      ext = span(id, "session", "extensions")(_ => GraftExtensions.register(spark))
      if (trace && keep) spark.sparkContext.addSparkListener(recorder)
      def tag(spanId: Long): Unit = {
        spark.sparkContext.setLocalProperty(PropPhase, "setup")
        spark.sparkContext.setLocalProperty(PropSpan, spanId.toString)
      }
      open = span(id, "tables", "open") { sid =>
        tag(sid)
        frames = tables.map(t => Tables(spark, data, t))
      }
      // Each fixture is one parquet row group, so caching a table is one
      // task: the tables are materialized concurrently, as a session
      // warming its cache would.
      if (cache) cacheMs = span(id, "tables", "cache") { sid =>
        tag(sid)
        frames.foreach(_.cache())
        frames.map(f => Future(f.count())).foreach(Await.result(_, Duration.Inf))
      }
    }
    val s = Setup(build, ext, open, cacheMs, storageMb(spark))
    if (!keep) {
      frames.foreach(_.unpersist(true))
      spark.stop()
    }
    (spark, s)
  }

  private def inputDir(pass: Int): String =
    if (!fresh) data
    else {
      val link = tmp.resolve("inputs").resolve(s"pass-$pass")
      Files.createDirectories(link.getParent)
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(data)).toString
    }

  private def runQuery(spark: SparkSession, name: String, dir: String, pass: Int,
      passSpan: Long, firstRows: mutable.Map[String, (Array[Row], StructType)]): Exec = {
    val sc = spark.sparkContext
    val e = new Exec(name, pass)
    val q = Registry.byName(name)
    var df: DataFrame = null
    var rows: Array[Row] = null
    span(passSpan, "query", name) { qSpan =>
      def phase[A](kind: String)(body: => A): (A, Double) = {
        var r: Option[A] = None
        val ms = span(qSpan, kind, name) { id =>
          sc.setLocalProperty(PropQuery, name)
          sc.setLocalProperty(PropPass, pass.toString)
          sc.setLocalProperty(PropPhase, kind)
          sc.setLocalProperty(PropSpan, id.toString)
          r = Some(body)
        }
        (r.get, ms)
      }
      def work(): Unit = {
        val (d, b) = phase("build")(q.build(spark, dir)); df = d; e.buildMs = b
        e.planMs = phase("plan")(df.queryExecution.executedPlan)._2
        val (rs, x) = phase("execute")(df.collect()); rows = rs; e.execMs = x
      }
      val cpu0 = mx.getProcessCpuTime
      val t0 = System.nanoTime()
      try {
        if (viaJobs) {
          val ts = System.nanoTime()
          val h = Jobs.start(spark, name)(work())
          e.jobsStartMs = (System.nanoTime() - ts) / 1e6
          while (!h.isCompleted) {
            val p0 = System.nanoTime()
            h.state
            e.pollNs += System.nanoTime() - p0
            e.polls += 1
            Thread.sleep(1)
          }
          try h.await() finally h.close()
        } else work()
        e.ms = (System.nanoTime() - t0) / 1e6
        e.cpuMs = (mx.getProcessCpuTime - cpu0) / 1e6
        e.ok = true
      } catch {
        case t: Throwable =>
          e.error = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[perfbench] $name pass $pass failed: ${e.error}")
      }
      // Outside the timed span: result hash, plan fingerprint, release.
      if (e.ok) {
        e.rows = rows.length
        e.hash = resultHash(rows)
        if (trace) e.fingerprint = fingerprint(df)
        if (pass == 0 && Registry.oracles.contains(name)) firstRows(name) = (rows, df.schema)
      }
      sc.setLocalProperty(PropPhase, "release")
      e.releaseMs = span(qSpan, "release", name)(_ => Caches.releaseAll())
      Seq(PropQuery, PropPass, PropPhase, PropSpan).foreach(sc.setLocalProperty(_, null))
    }
    e
  }

  def run(): Unit = {
    Files.createDirectories(out)
    val runSpanId = spanIds.getAndIncrement()
    val runStart = nowMs
    val setupRecs = ArrayBuffer[Setup]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val (s, rec) = setUp(i, runSpanId, keep = i == setups - 1)
      setupRecs += rec
      spark = s
    }
    val storageAfterSetup = storageMb(spark)

    val firstRows = mutable.LinkedHashMap[String, (Array[Row], StructType)]()
    val execs = ArrayBuffer[Exec]()
    def runPass(p: Int): Unit = {
      val dir = inputDir(p)
      span(runSpanId, "pass", s"pass-$p") { ps =>
        queries.foreach(q => execs += runQuery(spark, q, dir, p, ps, firstRows))
      }
    }
    runPass(0)
    // The cold pass's results go to the oracle check as parquet (the files
    // Verify writes) with their oracle SQL. Written here, outside every
    // timed span and before retained_mb is read, then dropped.
    val results = out.resolve("results")
    Files.createDirectories(results)
    firstRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(name).toString)
    }
    Files.writeString(results.resolve("oracle_sql.json"),
      json(firstRows.keys.map(n => n -> Registry.oracles(n)).toMap))
    // run.py starts the oracle check on this marker, during the unmeasured
    // warm-up passes
    Files.createFile(results.resolve(".ready"))
    firstRows.clear()
    // Passes keep speeding up for several passes while C2 compiles: the
    // warm-up passes take that ramp, and every run of a workload then
    // measures the same passes, so its medians are taken over the same
    // pass indices.
    (1 to warmup).foreach(runPass)
    // run.py checks the cold pass's results against the oracles beside the
    // warm-up passes; the measured passes wait until it is done.
    while (!Files.exists(results.resolve(".checked"))) Thread.sleep(50)
    (warmup + 1 to warmup + passes).foreach(runPass)

    Caches.releaseAll()
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    val retainedMb = mem.getHeapMemoryUsage.getUsed / mb
    val leakedMb = storageMb(spark) - storageAfterSetup

    var layers: Map[String, Any] = Map.empty
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans.add(Span(runSpanId, 0, "run", "run", runStart, nowMs))
      layers = layerMetrics(execs.toSeq, setupRecs.toSeq, leakedMb)
      writeSpans()
    }
    val res = Map(
      "setups" -> setupRecs.map(s => Map("total_s" -> s.totalS, "build_ms" -> s.buildMs,
        "extensions_ms" -> s.extensionsMs, "open_ms" -> s.openMs, "cache_ms" -> s.cacheMs,
        "cached_mb" -> s.cachedMb)),
      "warmup_passes" -> warmup,
      "retained_mb" -> retainedMb,
      "execs" -> execs.map(e => Map("query" -> e.query, "pass" -> e.pass, "ok" -> e.ok,
        "error" -> e.error, "ms" -> e.ms, "cpu_ms" -> e.cpuMs, "build_ms" -> e.buildMs,
        "plan_ms" -> e.planMs, "exec_ms" -> e.execMs, "release_ms" -> e.releaseMs,
        "rows" -> e.rows, "hash" -> e.hash, "fingerprint" -> e.fingerprint)),
      "layers" -> layers)
    Files.writeString(out.resolve("result.json"), json(res))
    spark.stop()
  }

  /** Per-layer metrics of each measured pass (and of set-up), from the
    * harness's wall clock around each layer call and the recorder's jobs.
    */
  private def layerMetrics(execs: Seq[Exec], setupRecs: Seq[Setup],
      leakedMb: Double): Map[String, Any] = {
    val jobs = recorder.jobList
    val byPass = execs.groupBy(_.pass)
    val jobsByPass = jobs.groupBy(_.pass)
    val measured = byPass.keys.toSeq.sorted.filter(_ > warmup).map { p =>
      val ex = byPass(p)
      val js = jobsByPass.getOrElse(p, Nil)
      val execJobs = js.filter(_.phase == "execute")
      def sum(xs: Seq[JobRec])(f: JobRec => Double) = xs.map(f).sum
      val execWall = ex.map(_.execMs).sum
      val storeJobs = js.filter(_.store)
      // Store jobs mostly read cached or in-driver data, which task input
      // metrics do not count; the ingested bytes are the input their
      // queries scan.
      val storeQueries = storeJobs.map(_.query).toSet
      val storeIn = sum(js.filter(j => storeQueries(j.query)))(_.input.toDouble)
      val storeOut = sum(storeJobs)(_.output.toDouble)
      val polls = ex.map(_.polls).sum
      Map[String, Double](
        "operators.build_ms" -> ex.map(_.buildMs).sum,
        "operators.build_jobs" -> js.count(_.phase == "build"),
        "operators.graph_ms" -> ex.filter(e => graphQ(e.query)).map(_.ms).sum,
        "operators.graph_jobs" -> js.count(j => graphQ(j.query)),
        "planning.plan_ms" -> ex.map(_.planMs).sum,
        "spark.jobs" -> execJobs.size,
        "spark.stages" -> sum(execJobs)(_.stages),
        "spark.tasks" -> sum(execJobs)(_.tasks),
        "spark.result_rows" -> ex.map(_.rows).sum,
        "spark.failed_tasks" -> sum(js)(_.failedTasks),
        "spark.task_ms" -> sum(execJobs)(_.taskMs),
        "spark.task_cpu_ms" -> sum(execJobs)(_.cpuMs),
        "spark.gc_ms" -> sum(execJobs)(_.gcMs),
        "spark.sched_wait_ms" -> sum(execJobs)(_.waitMs),
        "spark.busy_frac" -> (if (execWall > 0) sum(execJobs)(_.taskMs) / (execWall * cpus) else 0.0),
        "spark.shuffle_write_mb" -> sum(execJobs)(_.shuffleWrite) / mb,
        "spark.shuffle_read_mb" -> sum(execJobs)(_.shuffleRead) / mb,
        "spark.spill_mb" -> sum(execJobs)(_.spill) / mb,
        "caches.release_ms" -> ex.map(_.releaseMs).sum,
        "functions.prefix_ms" -> ex.filter(e => functionsQ(e.query)).map(_.ms).sum,
        "functions.prefix_jobs" -> js.count(j => functionsQ(j.query)),
        "stores.jobs" -> storeJobs.size,
        "stores.ingest_ms" -> sum(storeJobs)(j => (j.endMs - j.startMs).toDouble),
        "stores.output_mb" -> storeOut / mb,
        "stores.write_amp" -> (if (storeIn > 0) storeOut / storeIn else 0.0),
        "mapreduce.exec_ms" -> ex.filter(e => mapreduceQ(e.query)).map(_.execMs).sum,
        "mapreduce.shuffle_write_mb" ->
          sum(execJobs.filter(j => mapreduceQ(j.query)))(_.shuffleWrite) / mb,
        "jobs.start_ms" -> ex.map(_.jobsStartMs).sum,
        "jobs.poll_us" -> (if (polls > 0) ex.map(_.pollNs).sum / polls / 1e3 else 0.0),
        "jobs.polls" -> polls,
        "trace.pass_s" -> ex.map(_.ms).sum / 1000)
    }
    val fps = execs.filter(_.ok).groupBy(_.query).map { case (q, es) => q -> es.map(_.fingerprint).distinct }
    Map(
      "passes" -> measured,
      "setup" -> Map(
        "session.build_ms" -> setupRecs.map(_.buildMs),
        "session.extensions_ms" -> setupRecs.map(_.extensionsMs),
        "tables.open_ms" -> setupRecs.map(_.openMs),
        "tables.cache_ms" -> setupRecs.map(_.cacheMs),
        "tables.cached_mb" -> setupRecs.map(_.cachedMb)),
      "caches.leaked_mb" -> leakedMb,
      "trace.plan_changes" -> fps.count(_._2.size > 1),
      "fingerprints" -> fps)
  }

  /** Spans with their self time: duration minus the union of the
    * intervals their children cover. Spark jobs hang off the phase span
    * that started them, stages off their job.
    */
  private def writeSpans(): Unit = {
    val jobSpanId = mutable.Map[Int, Long]()
    recorder.jobList.foreach { j =>
      val id = spanIds.getAndIncrement()
      jobSpanId(j.id) = id
      spans.add(Span(id, j.parentSpan, "job", s"job-${j.id}", j.startMs.toDouble, j.endMs.toDouble,
        Map("query" -> j.query, "pass" -> j.pass, "phase" -> j.phase, "stages" -> j.stages,
          "tasks" -> j.tasks, "task_ms" -> j.taskMs, "store" -> j.store)))
    }
    recorder.stageList.foreach { s =>
      spans.add(Span(spanIds.getAndIncrement(), jobSpanId.getOrElse(s.job.id, 0L), "stage",
        s"stage-${s.id}.${s.attempt}", s.submittedMs.toDouble, s.completedMs.toDouble,
        Map("tasks" -> s.numTasks)))
    }
    val all = spans.asScala.toSeq.sortBy(_.id)
    val children = all.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total, curS, curE = 0.0
      var open = false
      iv.foreach { case (a, b) =>
        if (!open || a > curE) { if (open) total += curE - curS; curS = a; curE = b; open = true }
        else curE = math.max(curE, b)
      }
      if (open) total += curE - curS
      total
    }
    val w = Files.newBufferedWriter(out.resolve("spans.jsonl"))
    try all.foreach { s =>
      w.write(json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered(s))) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }
}
