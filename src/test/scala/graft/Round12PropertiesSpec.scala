package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive in-memory replays for the round-12 operators, plus THE round-12
  * property: probing the PERSISTED ANN index serves exactly the answers a
  * from-scratch LSH recompute over the base corpus would — the guarantee
  * that lets a production pipeline build the index once at ingest and
  * answer every later probe batch without touching the raw base vectors.
  */
class Round12PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = {
    val rows = Registry.byName(name).build(spark, dir).collect()
    Caches.releaseAll()
    rows
  }

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def hash60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def rawCos(a: Array[Double], b: Array[Double]): Double = {
    var dp = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  private def cos4(a: Array[Double], b: Array[Double]): Double =
    math.floor(rawCos(a, b) * 10000 + 0.5) / 10000

  private lazy val vecs: Seq[(Long, Array[Double])] =
    Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

  test("q_ann_incremental: stored-index probes == from-scratch LSH recompute (naive replay)") {
    val base = vecs.filter(_._1 % 10 != 0)
    val probes = vecs.filter(_._1 % 10 == 0)
    val np = graft.operators.VectorQueries.planesFor(base.size.toLong)
    val dims = vecs.map(_._2.length).max
    val signs = graft.operators.VectorQueries.planeSigns(np, dims)
    def bucket(v: Array[Double]): String =
      signs.map { s =>
        var d = 0d; var i = 0
        while (i < v.length) { d += s(i) * v(i); i += 1 }
        if (d > 0) "1" else "0"
      }.mkString
    val baseBk = base.map { case (id, v) => (id, bucket(v), v) }
    def top3(cands: Seq[(Long, Double)]): Seq[(Int, Long, Double)] =
      cands.sortBy { case (m, c) => (-c, m) }.take(3)
        .zipWithIndex.map { case ((m, c), i) => (i + 1, m, c) }
    val exact: Map[Long, Set[Long]] = probes.filter(_._1 < 50).map { case (pid, pv) =>
      pid -> top3(base.map { case (m, v) => (m, cos4(pv, v)) }).map(_._2).toSet
    }.toMap
    val want = probes.flatMap { case (pid, pv) =>
      val bk = bucket(pv)
      val cands = baseBk.filter(_._2 == bk).map { case (m, _, v) => (m, cos4(pv, v)) }
      top3(cands).map { case (rn, m, c) =>
        val hit: Any =
          if (pid >= 50) null
          else if (exact(pid)(m)) 1 else 0
        (pid, rn, m, c, hit)
      }
    }.sortBy(t => (t._1, t._2))
    val got = run("q_ann_incremental").map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3),
      if (r.isNullAt(4)) null else r.getInt(4))).toSeq
    assert(got === want)
    // the recall audit is populated exactly on the bounded probe subset
    assert(got.filter(_._1 < 50).forall(_._5 != null))
    assert(got.filter(_._1 >= 50).forall(_._5 == null))
  }

  test("q_ann_store_append: grown-store probes == from-scratch recompute over base ∪ delta1, delta1 neighbors attributed") {
    val base = vecs.filter(_._1 % 10 >= 2)
    val grown = vecs.filter(_._1 % 10 != 0)
    val probes = vecs.filter(_._1 % 10 == 0)
    // ingest-time depth: derived from the BASE population only
    val np = graft.operators.VectorQueries.planesFor(base.size.toLong)
    val dims = vecs.map(_._2.length).max
    val signs = graft.operators.VectorQueries.planeSigns(np, dims)
    def bucket(v: Array[Double]): String =
      signs.map { s =>
        var d = 0d; var i = 0
        while (i < v.length) { d += s(i) * v(i); i += 1 }
        if (d > 0) "1" else "0"
      }.mkString
    val grownBk = grown.map { case (id, v) => (id, bucket(v), v) }
    val want = probes.flatMap { case (pid, pv) =>
      val bk = bucket(pv)
      grownBk.filter(_._2 == bk).map { case (m, _, v) => (m, cos4(pv, v)) }
        .sortBy { case (m, c) => (-c, m) }.take(3)
        .zipWithIndex.map { case ((m, c), i) =>
          (pid, i + 1, m, c, if (m % 10 == 1) "delta1" else "base")
        }
    }.sortBy(t => (t._1, t._2))
    val got = run("q_ann_store_append").map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3), r.getString(4))).toSeq
    assert(got === want)
  }

  private val Pow53 = 9007199254740992L
  private val HllC = 4.2399330249068963e20

  test("q_hll_store: the store-served estimate equals the full recompute (naive replay)") {
    val ks = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def rank(w: Long): Int =
      if (w == 0) 53 else 53 - java.lang.Long.toBinaryString(w).length
    def regs(keys: Seq[Long]): Map[Int, Int] =
      keys.map { k => val h = hash60(k.toString); ((h % 256).toInt, rank(h / 256)) }
        .groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
    def merge(ms: Map[Int, Int]*): Map[Int, Int] =
      ms.flatten.groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
    def est(m: Map[Int, Int]): Long = {
      val z = m.values.map(r => 1L << (53 - r)).sum + (256L - m.size) * Pow53
      val v = 256 - m.size
      val raw = HllC / z.toDouble
      val corrected =
        if (raw <= 640.0 && v > 0) 256.0 * math.log(256.0 / v) else raw
      math.floor(corrected + 0.5).toLong
    }
    val base = regs(ks.filter(_._1 % 10 >= 2).map(_._2))
    val d1 = regs(ks.filter(_._1 % 10 == 1).map(_._2))
    val d0 = regs(ks.filter(_._1 % 10 == 0).map(_._2))
    def row(part: String, keys: Seq[Long], m: Map[Int, Int]) = {
      val exact = keys.distinct.size.toLong
      val e = est(m)
      val err: Any =
        if (exact == 0) null else math.abs(e - exact) * 1000000L / exact
      (part, exact, e, err)
    }
    val want = Seq(
      row("day1", ks.filter(_._1 % 10 >= 2).map(_._2), base),
      row("day2", ks.filter(_._1 % 10 != 0).map(_._2), merge(base, d1)),
      row("full", ks.map(_._2), regs(ks.map(_._2))),
      row("today", ks.map(_._2), merge(base, d1, d0))).sortBy(_._1)
    val got = run("q_hll_store").map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    assert(got === want)
    // THE property: the store-served arm IS the recompute, exactly
    val byPart = got.map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(byPart("today") === byPart("full"))
  }

  test("q_cms_store: store-served estimates equal the full recompute (naive replay)") {
    val ws = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ", -1).filter(_.nonEmpty))
      .toSeq
    val counts = ws.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val top10 = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
    def positions(w: String): Seq[(Int, Long)] = {
      val h = hash60(w)
      (0 until 4).map(i => (i, (h >> (9 * i)) & 511L))
    }
    val sketch: Map[(Int, Long), Long] = ws.flatMap(positions)
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val want = top10.map { case (w, c) =>
      val e = positions(w).map(sketch).min
      (w, c, e, e, e - c)
    }.sortBy(_._1)
    val got = run("q_cms_store").map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === want)
    // THE property: the store ⊕ today channel IS the recompute, exactly
    assert(got.forall(t => t._3 == t._4))
    // one-sided CMS guarantee
    assert(got.forall(_._5 >= 0))
  }

  test("streaming CMS counters == batch counters at every stream prefix (2048-row state bound)") {
    import spark.implicits._
    import graft.streaming.Streams
    val words = Tables(spark, dir, "documents").select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1).filter(_.nonEmpty)).toSeq
    val (half1, half2) = words.splitAt(words.size / 2)
    val staged = TestSpark.tempDir("scms")
    Seq(half1, half2).zipWithIndex.foreach { case (ws, i) =>
      ws.toDF("word").coalesce(1).write.parquet(s"$staged/f$i.parquet")
      import java.nio.file.{Files, Paths, FileVisitOption}
      import java.nio.file.attribute.FileTime
      Files.walk(Paths.get(s"$staged/f$i.parquet"), FileVisitOption.FOLLOW_LINKS)
        .filter(Files.isRegularFile(_))
        .forEach(p => Files.setLastModifiedTime(p,
          FileTime.fromMillis(1704067200000L + i * 60000L)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
    val q = Streams.cmsCountersStream(stream).writeStream
      .format("memory").queryName("cms_counters").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cms_counters").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = words.flatMap { w =>
      val h = hash60(w); (0 until 4).map(i => (i, (h >> (9 * i)) & 511L))
    }.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    assert(got === want, "final streaming counters must equal the batch funnel")
    assert(got.size <= 2048, "state is bounded by the counter-grid size")
  }

  test("q_triangle_store: incremental census == naive replay, and increments sum to the full census") {
    val op = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def pairsOf(rows: Seq[(Long, Long)]): Set[(Long, Long)] =
      rows.groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }.toSet
    val bp = pairsOf(op.filter(_._1 % 10 != 0))
    val delta = pairsOf(op.filter(_._1 % 10 == 0)) -- bp
    def adjacency(es: Set[(Long, Long)]): Map[Long, Set[Long]] =
      (es.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) })
        .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).toSet }
    def tcount(es: Set[(Long, Long)]): Long = {
      // Σ over edges of |N(u) ∩ N(v)| counts each triangle three times
      val adj = adjacency(es)
      es.toSeq.map { case (u, v) => (adj(u) & adj(v)).size.toLong }.sum / 3
    }
    val baseAdj = adjacency(bp)
    def bn(x: Long) = baseAdj.getOrElse(x, Set.empty[Long])
    val add1 = delta.toSeq.map { case (u, v) => (bn(u) & bn(v)).size.toLong }.sum
    val dAdj = adjacency(delta)
    val add2 = dAdj.toSeq.map { case (_, ns) =>
      val s = ns.toSeq.sorted
      (for (i <- s.indices; j <- i + 1 until s.size
            if bp((s(i), s(j)))) yield 1L).sum
    }.sum
    val add3 = tcount(delta)
    val baseTri = tcount(bp)
    val want = (bp.size.toLong, delta.size.toLong, baseTri,
      add1, add2, add3, baseTri + add1 + add2 + add3)
    val got = run("q_triangle_store").map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).head
    assert(got === want)
    // THE property: the incremental sum IS a from-scratch census of the
    // grown graph (which the steady-state plan never runs)
    assert(got._7 === tcount(bp ++ delta))
  }

  test("q_session_store stitches a midnight-straddling session exactly (planted corpus)") {
    // the real fixture's events are too sparse to straddle the cut (no
    // 30-min-adjacent pairs across 2024-01-16), so the stitch path gets
    // a planted corpus: a continued session, a broken one, a today-only
    // user, and a yesterday-only user
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: old session, then an open one continued across the cut
      (1L, ts("2024-01-15 10:00:00"), 1L, "click", 1.00, "{}"),
      (2L, ts("2024-01-15 23:50:00"), 1L, "click", 2.00, "{}"),
      (3L, ts("2024-01-16 00:05:00"), 1L, "click", 4.00, "{}"),
      (4L, ts("2024-01-16 00:10:00"), 1L, "click", 8.00, "{}"),
      // user 2: open session NOT continued (gap > 30 min across the cut)
      (5L, ts("2024-01-15 22:00:00"), 2L, "click", 16.00, "{}"),
      (6L, ts("2024-01-16 01:00:00"), 2L, "click", 32.00, "{}"),
      // user 3: today-only (no store row — numbering starts at 1)
      (7L, ts("2024-01-16 09:00:00"), 3L, "click", 64.00, "{}"),
      (8L, ts("2024-01-16 09:10:00"), 3L, "click", 128.00, "{}"),
      // user 4: yesterday-only (must not appear)
      (9L, ts("2024-01-15 12:00:00"), 4L, "click", 256.00, "{}"))
    val out = TestSpark.tempDir("sess-store")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val got = Registry.byName("q_session_store").build(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    val want = Seq(
      (1L, 2L, 3L, 1400L), // 23:50 + 00:05 + 00:10 stitched: 200+400+800 cents
      (2L, 2L, 1L, 3200L), // broken: today's event alone, numbered after sid 1
      (3L, 1L, 2L, 19200L)) // today-only user starts at session 1
    assert(got === want)
  }

  test("q_quantile_store: store-served estimates equal the full recompute (naive replay)") {
    val oc = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0) % 10, math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .toSeq
    val baseCents = oc.filter(_._1 >= 2).map(_._2)
    val minc = if (baseCents.isEmpty) 0L else baseCents.min
    val span = (if (baseCents.isEmpty) 0L else baseCents.max) - minc + 1L
    def bkt(c: Long): Long = math.max(0L, math.min(63L, (c - minc) * 64 / span))
    def arm(cs: Seq[Long], part: String): Seq[(String, Int, Long, Long)] = {
      val h = cs.map(bkt).groupBy(identity).map { case (b, g) => b -> g.size.toLong }
      val n = cs.size.toLong
      Seq(50, 90).map { p =>
        val thr = (n * p + 99) / 100
        val bsel = h.keys.toSeq.sorted
          .find(b => h.filter(_._1 <= b).values.sum >= thr).get
        (part, p, n, minc + ((2 * bsel + 1) * span) / 128)
      }
    }
    val want = (arm(oc.filter(_._1 >= 2).map(_._2), "day1") ++
      arm(oc.filter(_._1 >= 1).map(_._2), "day2") ++
      arm(oc.map(_._2), "today") ++ arm(oc.map(_._2), "full"))
      .sortBy(t => (t._1, t._2))
    val got = run("q_quantile_store").map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    // THE property: the store-served arm IS the recompute, exactly
    assert(got.filter(_._1 == "today").map(t => (t._2, t._3, t._4)) ===
      got.filter(_._1 == "full").map(t => (t._2, t._3, t._4)))
  }

  test("q_ivf_store: pruned-partition probe == naive routed search replay") {
    val cents = vecs.filter(_._1 < 10)
    val base = vecs.filter(_._1 % 10 != 0)
    val probe = vecs.find(_._1 == 0L).get._2
    val assign = base.map { case (id, v) =>
      id -> cents.map { case (cid, c) => (cid, rawCos(v, c)) }
        .sortBy { case (cid, cc) => (-cc, cid) }.head._1
    }.toMap
    val routed = cents.map { case (cid, c) => (cid, rawCos(probe, c)) }
      .sortBy { case (cid, cc) => (-cc, cid) }.take(2).map(_._1).toSet
    val want = base.filter(v => routed(assign(v._1)))
      .map { case (id, v) => (id, assign(id).toInt, cos4(v, probe)) }
      .sortBy { case (id, _, c) => (-c, id) }.take(10)
    val got = run("q_ivf_store").map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got === want)
  }

  test("q_ivf_store_append: a planted appended vector surfaces through the pruned partitions") {
    // the real fixture's delta1 vectors rarely reach the sf0.001/sf0.01
    // top-10 (they do at sf0.1: 3/10 rows), so the append proof gets a
    // planted corpus where yesterday's vector IS the probe's nearest
    // neighbor — it can only appear if the appended files inside the
    // routed partitions are read
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows: Seq[(Long, Array[Float], Int)] = Seq(
      (0L, v(1, 0, 0, 0), 0),       // probe + centroid 0
      (1L, v(0, 1, 0, 0), 0),       // centroid 1 (delta1 member)
      (2L, v(0.8, 0.2, 0, 0), 0),   // centroid 2 (base member)
      (3L, v(0, 0, 1, 0), 0), (4L, v(0, 0, 0, 1), 0),
      (5L, v(0, 0, 0.9, 0.1), 0), (6L, v(0, 0, 0.1, 0.9), 0),
      (7L, v(0, 0.9, 0.1, 0), 0), (8L, v(0, 0.1, 0.9, 0), 0),
      (9L, v(0.1, 0, 0, 0.9), 0),
      (11L, v(0.99, 0.01, 0, 0), 0), // delta1: the probe's true NN
      (12L, v(0.7, 0.3, 0, 0), 0),   // base, same neighborhood
      (23L, v(0, 0, 0.5, 0.5), 0))   // base, far away
    val out = TestSpark.tempDir("ivf-append")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = Registry.byName("q_ivf_store_append").build(spark, out).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSeq
    Caches.releaseAll()
    // replay: ingest centroids = vec 0..9; grown = vec_id % 10 != 0
    val vecs = rows.map { case (id, e, _) => (id, e.map(_.toDouble)) }
    val cents = vecs.filter(_._1 < 10)
    val probe = vecs.find(_._1 == 0L).get._2
    val grown = vecs.filter(_._1 % 10 != 0)
    val assign = grown.map { case (id, e) =>
      id -> cents.map { case (cid, c) => (cid, rawCos(e, c)) }
        .sortBy { case (cid, cc) => (-cc, cid) }.head._1
    }.toMap
    val routed = cents.map { case (cid, c) => (cid, rawCos(probe, c)) }
      .sortBy { case (cid, cc) => (-cc, cid) }.take(2).map(_._1).toSet
    val want = grown.filter(g => routed(assign(g._1)))
      .map { case (id, e) => (id, assign(id).toInt, cos4(e, probe),
        if (id % 10 == 1) "delta1" else "base") }
      .sortBy { case (id, _, c, _) => (-c, id) }.take(10)
    assert(got === want)
    // the appended vector leads the result
    assert(got.head._1 === 11L && got.head._4 === "delta1")
  }

  test("q_bloom_store equals the naive grown-filter replay") {
    val ds = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def bits(ch: String): Seq[Long] = {
      val h = hash60(ch); (0 until 4).map(i => (h >> (12 * i)) & 4095L)
    }
    val base = ds.filter(_._1 % 10 >= 2).map(d => md5hex(d._2))
    val d1 = ds.filter(_._1 % 10 == 1).map(d => md5hex(d._2))
    val bitsDay1 = base.flatMap(bits).toSet
    val grownBits = bitsDay1 ++ d1.flatMap(bits)
    val grownHashes = (base ++ d1).toSet
    val probeChs = ds.filter(_._1 % 10 == 0).map(d => md5hex(d._2)).distinct
    val hits = probeChs.filter(ch => bits(ch).toSet.subsetOf(grownBits))
    val trueDups = hits.count(grownHashes)
    val falsePos = hits.size - trueDups
    val fpr: Any =
      if (probeChs.size - trueDups == 0) null
      else falsePos.toLong * 1000000L / (probeChs.size - trueDups)
    val want = (4096L, 4L, grownHashes.size.toLong, bitsDay1.size.toLong,
      grownBits.size.toLong, probeChs.size.toLong, hits.size.toLong,
      trueDups.toLong, falsePos.toLong, fpr)
    val got = run("q_bloom_store").map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7), r.getLong(8),
      if (r.isNullAt(9)) null else r.getLong(9))).head
    assert(got === want)
  }

  test("q_bpe_sampled: an EMPTY hash-sample encodes as a no-op (ADVICE r11 edge)") {
    // plant a corpus whose every doc_id falls OUT of the hash60 mod-10
    // sample: sampled training finds no winners, so the sampled encode
    // must be the identity (bpe_sampled = raw_units, compression 1.0) —
    // the oracle's LEFT-JOIN winner guard reproduces the same no-op
    // (verified cross-engine on this corpus during the round-12 build)
    import spark.implicits._
    val ids = (1L to 200L).filter(i => hash60(i.toString) % 10 != 0).take(10)
    assert(ids.size == 10)
    val out = TestSpark.tempDir("bpe-empty")
    ids.map(i => (i, s"the cat sat on the mat $i", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val got = Registry.byName("q_bpe_sampled").build(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    Caches.releaseAll()
    val (nS, rawS, bpeS, compS) = got("sampled")
    assert(nS === 0L)
    assert(bpeS === rawS)
    assert(compS === 1.0)
    // the full trainer did find winners on the same corpus
    assert(got("full")._3 < got("full")._2)
  }

  test("q_grouped_median equals the naive per-customer type-1 quantile replay") {
    val cents = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .toSeq
    def t1(xs: Seq[Long], p: Int): Long = {
      val s = xs.sorted
      // smallest value whose cumulative count reaches ceil(n·p/100)
      s((((s.size.toLong * p) + 99) / 100 - 1).toInt)
    }
    val want = cents.groupBy(_._1).toSeq.map { case (ck, g) =>
      val xs = g.map(_._2)
      (ck, xs.size.toLong, t1(xs, 50), t1(xs, 90))
    }.sortBy(_._1)
    val got = run("q_grouped_median").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
  }
}
