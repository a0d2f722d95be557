package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive in-memory replays for the round-11 operators, plus THE round-11
  * property: delta-vs-store incremental dedup is EQUIVALENT to a full-corpus
  * recompute restricted to the pairs that touch the delta — the guarantee
  * that lets a production pipeline skip re-scanning the base corpus every
  * night without changing what gets flagged.
  */
class Round11PropertiesSpec extends AnyFunSuite {
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

  private def tokens(text: String): Seq[String] =
    text.split(" ", -1).filter(_.nonEmpty).toSeq

  /** Naive 16-XOR-minhash signature over distinct word-3-grams (None when
    * the doc has < 3 words — no shingles, no signature, like the query).
    */
  private def naiveSigs(text: String): Option[Seq[Long]] = {
    val sh = tokens(text).sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSeq.distinct
    if (sh.isEmpty) None
    else Some(graft.operators.DedupQueries.minhashSeeds.map(k =>
      sh.map(s => hash60(s) ^ k).min))
  }

  private def bandKeys(sigs: Seq[Long]): Seq[(Int, Seq[Long])] =
    (0 until 4).map(b => b -> sigs.slice(b * 4, b * 4 + 4))

  /** Naive incremental dedup over an in-memory corpus: returns
    * (doc_id, kind, match_doc, est_bp) rows exactly like the query.
    */
  private def naiveIncremental(corpus: Seq[(Long, String)])
      : Seq[(Long, String, Long, Long)] = {
    val isDelta = (id: Long) => id % 10 == 0
    val hashes = corpus.map { case (id, t) => id -> md5hex(t) }.toMap
    val sigs = corpus.flatMap { case (id, t) => naiveSigs(t).map(id -> _) }.toMap
    // a delta doc d matches m when m is base (any id) or an earlier delta
    val eligible = (d: Long, m: Long) =>
      isDelta(d) && m != d && (!isDelta(m) || m < d)
    val ids = corpus.map(_._1)
    val exactPairs = for {
      d <- ids if isDelta(d); m <- ids
      if eligible(d, m) && hashes(m) == hashes(d)
    } yield (d, m)
    val exact = exactPairs.groupBy(_._1).toSeq.map { case (d, ms) =>
      (d, "exact", ms.map(_._2).min, 10000L)
    }
    val near = (for {
      d <- ids if isDelta(d) && sigs.contains(d)
      m <- ids if eligible(d, m) && sigs.contains(m)
      if bandKeys(sigs(d)).intersect(bandKeys(sigs(m))).nonEmpty
      mm = sigs(d).zip(sigs(m)).count { case (a, b) => a == b }
      if mm >= 8 && !exactPairs.contains((d, m))
    } yield (d, "near", m, mm * 625L)).distinct
    (exact ++ near).sortBy(r => (r._1, r._2, r._3))
  }

  /** Naive FULL-corpus near-dup recompute (the nightly batch pass the
    * incremental path replaces): unordered pairs sharing a band, verified
    * by the same signature estimate, exact-equal pairs excluded.
    */
  private def naiveFullNearPairs(corpus: Seq[(Long, String)]): Set[(Long, Long)] = {
    val hashes = corpus.map { case (id, t) => id -> md5hex(t) }.toMap
    val sigs = corpus.flatMap { case (id, t) => naiveSigs(t).map(id -> _) }.toMap
    val ids = corpus.map(_._1).filter(sigs.contains)
    (for {
      a <- ids; b <- ids if a < b
      if bandKeys(sigs(a)).intersect(bandKeys(sigs(b))).nonEmpty
      mm = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      if mm >= 8 && hashes(a) != hashes(b)
    } yield (a, b)).toSet
  }

  /** Planted corpus: base = ids not ≡ 0 (mod 10), delta = ids ≡ 0.
    *   - doc 20 is an EXACT copy of base doc 3;
    *   - docs 10 and 40 are exact copies of each other (within-delta:
    *     40 must match earlier delta 10 — arrival order, not the store);
    *   - doc 30 is base doc 2 with one word changed (near dup, crosses
    *     the split);
    *   - docs 1, 11, 23 are vocabulary-disjoint noise.
    */
  private def plantedCorpus: Seq[(Long, String)] = {
    val t2 = (0 until 60).map(i => s"b$i").mkString(" ")
    val t3 = (0 until 60).map(i => s"c$i").mkString(" ")
    val t10 = (0 until 60).map(i => s"d$i").mkString(" ")
    val t30 = ((0 until 30).map(i => s"b$i") ++ Seq("CHANGED") ++
      (31 until 60).map(i => s"b$i")).mkString(" ")
    Seq(
      1L -> (0 until 60).map(i => s"a$i").mkString(" "),
      2L -> t2,
      3L -> t3,
      11L -> (0 until 60).map(i => s"e$i").mkString(" "),
      23L -> (0 until 60).map(i => s"f$i").mkString(" "),
      10L -> t10,
      20L -> t3,
      30L -> t30,
      40L -> t10)
  }

  private def stageDocs(corpus: Seq[(Long, String)]): String = {
    val tmp = TestSpark.tempDir("r11")
    import spark.implicits._
    corpus.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("q_dedup_incremental equals the naive delta-vs-store replay on a planted corpus") {
    val corpus = plantedCorpus
    val tmp = stageDocs(corpus)
    val got = Registry.byName("q_dedup_incremental").build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    val want = naiveIncremental(corpus)
    assert(got === want, s"got=$got want=$want")
    // the plant's specific guarantees, so a silently-empty channel can't pass:
    val exact = got.filter(_._2 == "exact")
    assert(exact.contains((20L, "exact", 3L, 10000L)),
      "delta doc 20 must exact-match base doc 3")
    assert(exact.contains((40L, "exact", 10L, 10000L)),
      "delta doc 40 must exact-match EARLIER delta doc 10 (arrival order)")
    assert(!exact.exists(_._1 == 10L),
      "delta doc 10 has no base or earlier-delta copy — must not be flagged")
    val near = got.filter(_._2 == "near")
    assert(near.exists(p => p._1 == 30L && p._3 == 2L),
      "delta doc 30 must near-match base doc 2")
    assert(!near.exists(p => p._1 == 20L && p._3 == 3L),
      "exact-equal pairs stay in the exact channel")
  }

  test("delta-vs-store dedup == full-corpus recompute restricted to delta-touching pairs") {
    // the round-11 property, on the planted corpus AND the real sf0.001 one
    val real = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    for ((corpus, label) <- Seq((plantedCorpus, "planted"), (real, "sf0.001"))) {
      val isDelta = (id: Long) => id % 10 == 0
      val full = naiveFullNearPairs(corpus)
        .filter { case (a, b) => isDelta(a) || isDelta(b) }
      val inc = naiveIncremental(corpus).filter(_._2 == "near")
        .map(r => (math.min(r._1, r._3), math.max(r._1, r._3))).toSet
      assert(inc === full,
        s"[$label] incremental near pairs must equal the restricted full recompute: " +
          s"inc-only=${inc -- full} full-only=${full -- inc}")
    }
  }

  test("q_dedup_incremental on the real corpus: near channel only (fixture has no exact dups)") {
    val got = Registry.byName("q_dedup_incremental").build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    assert(got.forall(_._2 == "near"), s"unexpected exact rows: ${got.filter(_._2 == "exact")}")
    val want = naiveIncremental(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq)
    assert(got === want)
  }

  test("q_hll_merge equals the naive HLL replay, and the merged sketch is register-MAX of the halves") {
    val rows = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val dmin = rows.map(_._2).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val dmax = rows.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val tagged = rows.map { case (k, d) =>
      val base = (d.toEpochDay - dmin.toEpochDay) * 2 <= (dmax.toEpochDay - dmin.toEpochDay)
      (k, if (base) "base" else "delta")
    }
    def registers(ks: Seq[Long]): Map[Int, Int] =
      ks.map { k =>
        val h = hash60(k.toString)
        val w = h / 256
        ((h % 256).toInt, if (w == 0) 53 else 53 - java.lang.Long.toBinaryString(w).length)
      }.groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
    def estimate(regs: Map[Int, Int]): Long = {
      val z = (0 until 256).map(j => 1L << (53 - regs.getOrElse(j, 0))).sum
      val raw = 4.2399330249068963e20 / z.toDouble
      val v = 256 - regs.size
      val e = if (raw <= 640.0 && v > 0) 256.0 * math.log(256.0 / v) else raw
      math.floor(e + 0.5).toLong
    }
    val rb = registers(tagged.filter(_._2 == "base").map(_._1).toSeq)
    val rd = registers(tagged.filter(_._2 == "delta").map(_._1).toSeq)
    // merged registers = per-bucket MAX of the halves' registers — the
    // mergeability property, asserted against a from-scratch build
    val rm = (rb.keySet ++ rd.keySet).map(j =>
      j -> math.max(rb.getOrElse(j, 0), rd.getOrElse(j, 0))).toMap
    assert(rm === registers(tagged.map(_._1).toSeq))
    def exact(p: String => Boolean) = tagged.filter(t => p(t._2)).map(_._1).distinct.size.toLong
    val want = Seq(
      ("base", exact(_ == "base"), estimate(rb)),
      ("delta", exact(_ == "delta"), estimate(rd)),
      ("merged", exact(_ => true), estimate(rm))).map { case (p, ex, est) =>
      (p, ex, est, if (ex == 0) null else java.lang.Long.valueOf(math.abs(est - ex) * 1000000L / ex))
    }
    val got = run("q_hll_merge").map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_bloom_incremental equals the naive bloom replay") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), md5hex(r.getString(1))))
    def positions(ch: String): Seq[Long] = {
      val hv = hash60(ch)
      (0 until 4).map(i => (hv >> (12 * i)) & 4095L)
    }
    val base = docs.filter(_._1 % 10 != 0)
    val delta = docs.filter(_._1 % 10 == 0)
    val bits = base.flatMap(d => positions(d._2)).toSet
    val baseHashes = base.map(_._2).toSet
    val probes = delta.map(_._2).distinct
    val hits = probes.filter(ch => positions(ch).forall(bits.contains))
    val trueDups = hits.count(baseHashes.contains)
    val fp = hits.size - trueDups
    val got = run("q_bloom_incremental")(0)
    assert((got.getLong(2), got.getLong(3), got.getLong(4), got.getLong(5),
      got.getLong(6), got.getLong(7)) ===
      ((baseHashes.size.toLong, bits.size.toLong, probes.size.toLong,
        hits.size.toLong, trueDups.toLong, fp.toLong)))
    assert(got.getLong(8) === fp * 1000000L / (probes.size - trueDups))
  }

  test("q_bottomk_sample: the merged sample IS the direct full-corpus sample (bottom-k property)") {
    val got = run("q_bottomk_sample").map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("merged") === got("direct"),
      s"merged=${got("merged")} direct=${got("direct")}")
    // naive replay of the per-vintage samples
    val ids = Tables(spark, dir, "documents").select(col("doc_id")).collect()
      .map(_.getLong(0))
    def bottom(ks: Seq[Long]) =
      ks.map(k => (hash60(k.toString), k)).sorted.take(32)
    val b = bottom(ids.filter(_ % 10 != 0).toSeq)
    val d = bottom(ids.filter(_ % 10 == 0).toSeq)
    assert(got("base") === ((ids.count(_ % 10 != 0).toLong, b.size.toLong,
      b.map(_._2).sum, b.map(_._1).max)))
    assert(got("delta") === ((ids.count(_ % 10 == 0).toLong, d.size.toLong,
      d.map(_._2).sum, d.map(_._1).max)))
    // and the merge-of-samples equals bottom-32 of the sample union
    val m = (b ++ d).sorted.take(32)
    assert(got("merged") === ((ids.length.toLong, m.size.toLong,
      m.map(_._2).sum, m.map(_._1).max)))
  }

  test("q_cms_merge: merged sketch equals from-scratch corpus sketch, estimates dominate exact counts") {
    val words = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ", -1).filter(_.nonEmpty)
        .map(w => (r.getLong(0) % 10 == 0, w)))
    def positions(w: String): Seq[(Int, Long)] = {
      val h = hash60(w)
      (0 until 4).map(i => (i, (h >> (9 * i)) & 511L))
    }
    def sketch(ws: Seq[String]): Map[(Int, Long), Long] =
      ws.flatMap(positions).groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val sb = sketch(words.filter(!_._1).map(_._2).toSeq)
    val sd = sketch(words.filter(_._1).map(_._2).toSeq)
    val sm = (sb.keySet ++ sd.keySet).map(k =>
      k -> (sb.getOrElse(k, 0L) + sd.getOrElse(k, 0L))).toMap
    // mergeability: elementwise sum of vintage sketches == from-scratch sketch
    assert(sm === sketch(words.map(_._2).toSeq))
    val counts = words.map(_._2).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val top10 = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
    val want = top10.map { case (w, c) =>
      (w, c, positions(w).map(sm).min)
    }.map { case (w, c, e) => (w, c, e, e - c) }.sortBy(_._1)
    val got = run("q_cms_merge").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want, s"got=$got want=$want")
    got.foreach { case (_, _, _, over) => assert(over >= 0L) }
  }

  test("q_quantile_merge: merged histogram equals from-scratch, estimate brackets within a bucket width") {
    val rows = Tables(spark, dir, "orders")
      .select(col("o_orderdate").cast("date"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val dmin = rows.map(_._1.toEpochDay).min; val dmax = rows.map(_._1.toEpochDay).max
    val minc = rows.map(_._2).min; val maxc = rows.map(_._2).max
    val span = maxc - minc + 1
    val tagged = rows.map { case (d, c) =>
      (if ((d.toEpochDay - dmin) * 2 <= dmax - dmin) "base" else "delta", c)
    }
    def hist(cs: Seq[Long]): Map[Long, Long] =
      cs.map(c => (c - minc) * 64 / span).groupBy(identity)
        .map { case (b, g) => b -> g.size.toLong }
    val hb = hist(tagged.filter(_._1 == "base").map(_._2).toSeq)
    val hd = hist(tagged.filter(_._1 == "delta").map(_._2).toSeq)
    val hm = (hb.keySet ++ hd.keySet).map(b =>
      b -> (hb.getOrElse(b, 0L) + hd.getOrElse(b, 0L))).toMap
    assert(hm === hist(tagged.map(_._2).toSeq)) // mergeability
    def estQ(h: Map[Long, Long], p: Int): (Long, Long) = {
      val n = h.values.sum
      val target = (n * p + 99) / 100
      val bsel = h.toSeq.sortBy(_._1).scanLeft((-1L, 0L)) { case ((_, cum), (b, c)) =>
        (b, cum + c)
      }.find(_._2 >= target).get._1
      (n, minc + (2 * bsel + 1) * span / 128)
    }
    def exactQ(cs: Seq[Long], p: Int): Long = {
      val s = cs.sorted; val target = ((s.size.toLong * p + 99) / 100).toInt
      s(target - 1)
    }
    val want = Seq("base", "delta", "merged").flatMap { part =>
      val cs = if (part == "merged") tagged.map(_._2).toSeq
        else tagged.filter(_._1 == part).map(_._2).toSeq
      val h = part match { case "base" => hb; case "delta" => hd; case _ => hm }
      Seq(50, 90).map { p =>
        val (n, est) = estQ(h, p); val ex = exactQ(cs, p)
        (part, p, n, est, ex, math.abs(est - ex) * 1000000L / ex)
      }
    }.sortBy(t => (t._1, t._2))
    val got = run("q_quantile_merge").map(r => (r.getString(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want, s"got=$got want=$want")
    // midpoint estimate is within one bucket width of the exact quantile
    got.foreach { case (_, _, _, est, ex, _) =>
      assert(math.abs(est - ex) <= span / 64 + 1) }
  }

  test("q_weighted_sample: the merged weighted sample IS the direct one (bottom-k by fixed priority)") {
    val got = run("q_weighted_sample").map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    assert(got("merged") === got("direct"))
    // naive replay
    val ds = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), math.max(1L, r.getString(1).length.toLong)))
    def bottom(xs: Seq[(Long, Long)]) = // (id, w)
      xs.map { case (id, w) => (hash60(id.toString).toDouble / w, id, w) }
        .sortBy(t => (t._1, t._2)).take(16)
    def rep(s: Seq[(Double, Long, Long)], nIn: Long) =
      (nIn, s.size.toLong, s.map(_._2).sum, s.map(_._3).sum,
        s.map(t => hash60(t._2.toString) / 1048576L).sum,
        s.map(t => hash60(t._2.toString) % 1048576L).sum)
    val b = bottom(ds.filter(_._1 % 10 != 0).toSeq)
    val d = bottom(ds.filter(_._1 % 10 == 0).toSeq)
    assert(got("base") === rep(b, ds.count(_._1 % 10 != 0)))
    assert(got("delta") === rep(d, ds.count(_._1 % 10 == 0)))
    val m = (b ++ d).sortBy(t => (t._1, t._2)).take(16)
    assert(got("merged") === rep(m, ds.length))
  }

  test("q_theta_sketch equals the naive KMV replay; sketch estimates degrade to exact below k") {
    val rows = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val dmin = rows.map(_._2.toEpochDay).min; val dmax = rows.map(_._2.toEpochDay).max
    val base = rows.filter(t => (t._2.toEpochDay - dmin) * 2 <= dmax - dmin).map(_._1)
    val delta = rows.filter(t => (t._2.toEpochDay - dmin) * 2 > dmax - dmin).map(_._1)
    val pow = BigInt(1152921504606846976L)
    def sample(ks: Seq[Long]): Seq[Long] =
      ks.distinct.map(k => hash60(k.toString)).sorted.take(128)
    val sa = sample(base.toSeq); val sb = sample(delta.toSeq)
    def th(s: Seq[Long]): BigInt = if (s.size < 128) pow else BigInt(s.max)
    def est(s: Seq[Long]): Long =
      if (s.size < 128) s.size.toLong else ((BigInt(127) * pow) / th(s)).toLong
    val su = (sa ++ sb).distinct.sorted.take(128)
    val thi = th(sa).min(th(sb))
    val c = sa.toSet.intersect(sb.toSet).count(h => BigInt(h) < thi)
    val estI = if (thi == pow) c.toLong else ((BigInt(c) * pow) / thi).toLong
    val exacts = Map(
      "base" -> base.distinct.size.toLong, "delta" -> delta.distinct.size.toLong,
      "union" -> rows.map(_._1).distinct.size.toLong,
      "intersection" -> base.toSet.intersect(delta.toSet).size.toLong)
    val ests = Map("base" -> est(sa), "delta" -> est(sb), "union" -> est(su),
      "intersection" -> estI)
    val want = Seq("base", "delta", "intersection", "union").map { p =>
      (p, ests(p), exacts(p),
        if (exacts(p) == 0) null
        else java.lang.Long.valueOf(math.abs(ests(p) - exacts(p)) * 1000000L / exacts(p)))
    }
    val got = run("q_theta_sketch").map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_cdc_chunking equals the naive replay, and an insertion only re-chunks its neighborhood") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def chunksOf(text: String): Seq[String] = {
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      if (ws.isEmpty) Seq.empty
      else {
        val cids = ws.scanLeft(0L) { (acc, w) =>
          acc + (if (hash60(w) % 16 == 0) 1L else 0L)
        }.tail
        ws.zip(cids).groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1).mkString(" "))
      }
    }
    val all = docs.flatMap(d => chunksOf(d._3).map(c => (d._1, d._2, c)))
    val dupSet = all.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = all.groupBy(_._2).toSeq.map { case (src, g) =>
      val nTok = g.map(_._3.split(" ").length.toLong).sum
      (src, g.size.toLong, g.map(c => md5hex(c._3)).distinct.size.toLong,
        g.count(c => dupSet(c._3)).toLong, nTok * 100 / g.size)
    }.sortBy(_._1)
    val got = run("q_cdc_chunking").map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === want, s"got=$got want=$want")
    // the CDC robustness property: inserting one token early in a doc
    // changes only chunks at/adjacent to the insertion point — the
    // suffix chunks (those after the next boundary) are unchanged,
    // whereas fixed 32-token windows would ALL shift
    val victim = docs.maxBy(_._3.length)
    val before = chunksOf(victim._3)
    val ws = victim._3.split(" ", -1).filter(_.nonEmpty)
    val after = chunksOf((ws.take(3) ++ Seq("INSERTED") ++ ws.drop(3)).mkString(" "))
    val commonSuffix = before.reverse.zip(after.reverse).takeWhile(t => t._1 == t._2).size
    assert(commonSuffix >= before.size - 2,
      s"CDC must preserve all chunks after the edited one: kept $commonSuffix of ${before.size}")
  }

  test("q_keyword_extract equals the naive integer tf-idf replay") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val words = docs.flatMap(d =>
      d._3.split(" ", -1).filter(_.nonEmpty).map(w => (d._1, d._2, w)))
    val n = docs.map(_._1).distinct.size.toLong
    val tf = words.groupBy(t => (t._2, t._3)).map { case (k, g) => k -> g.size.toLong }
    val df = words.map(t => (t._1, t._3)).distinct.groupBy(_._2)
      .map { case (w, g) => w -> g.size.toLong }
    val want = tf.toSeq.map { case ((src, w), t) =>
      (src, w, t, df(w), t * ((n * 1000) / df(w)))
    }.groupBy(_._1).toSeq.flatMap { case (src, g) =>
      g.sortBy(t => (-t._5, t._2)).take(3).zipWithIndex
        .map { case ((s, w, t, d, sc), i) => (s, i + 1, w, t, d, sc) }
    }.sortBy(t => (t._1, t._2))
    val got = run("q_keyword_extract").map(r => (r.getString(0), r.getInt(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_theta_diff equals the naive A-not-B replay") {
    val rows = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val dmin = rows.map(_._2.toEpochDay).min; val dmax = rows.map(_._2.toEpochDay).max
    val base = rows.filter(t => (t._2.toEpochDay - dmin) * 2 <= dmax - dmin).map(_._1)
    val delta = rows.filter(t => (t._2.toEpochDay - dmin) * 2 > dmax - dmin).map(_._1)
    val pow = BigInt(1152921504606846976L)
    def sample(ks: Seq[Long]): Seq[Long] =
      ks.distinct.map(k => hash60(k.toString)).sorted.take(128)
    val sa = sample(base.toSeq); val sb = sample(delta.toSeq)
    def th(s: Seq[Long]): BigInt = if (s.size < 128) pow else BigInt(s.max)
    val thi = th(sa).min(th(sb))
    def estDiff(x: Seq[Long], y: Seq[Long]): Long = {
      val c = x.filterNot(y.toSet).count(h => BigInt(h) < thi)
      if (thi == pow) c.toLong else ((BigInt(c) * pow) / thi).toLong
    }
    val exacts = Map(
      "churned" -> (base.toSet -- delta.toSet).size.toLong,
      "new" -> (delta.toSet -- base.toSet).size.toLong)
    val ests = Map("churned" -> estDiff(sa, sb), "new" -> estDiff(sb, sa))
    val want = Seq("churned", "new").map { p =>
      (p, ests(p), exacts(p),
        if (exacts(p) == 0) null
        else java.lang.Long.valueOf(math.abs(ests(p) - exacts(p)) * 1000000L / exacts(p)))
    }
    val got = run("q_theta_diff").map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  /** Naive near pairs of a delta against a grown store (base ∪ delta1),
    * vintage-attributed — the q_store_append contract.
    */
  private def naiveStoreAppend(corpus: Seq[(Long, String)])
      : Seq[(Long, Long, String, Long)] = {
    val sigs = corpus.map { case (id, t) => id -> naiveSigs(t) }.toMap
    val grown = corpus.map(_._1).filter(_ % 10 != 0)
    val delta2 = corpus.map(_._1).filter(_ % 10 == 0)
    val pairs = for {
      d <- delta2; m <- grown ++ delta2.filter(_ < d)
      if m != d
      sd <- sigs(d).toSeq; sm <- sigs(m).toSeq
      if bandKeys(sd).intersect(bandKeys(sm)).nonEmpty
      mm = sd.zip(sm).count(t => t._1 == t._2)
      if mm >= 8
    } yield (d, m,
      if (m % 10 == 0) "delta2" else if (m % 10 == 1) "delta1" else "base",
      mm * 625L)
    pairs.distinct.sortBy(t => (t._1, t._2))
  }

  test("q_store_append: delta1 matches prove the bucketed-store append is live (planted corpus)") {
    // plant: base doc 2 (b-words); delta1 doc 31 = near-copy of nothing in
    // base but an exact vocab twin of delta2 doc 40; delta2 doc 30
    // near-matches base doc 2; delta2 doc 40 must match APPENDED doc 31
    val t2 = (0 until 60).map(i => s"b$i").mkString(" ")
    val t31 = (0 until 60).map(i => s"z$i").mkString(" ")
    val t30 = ((0 until 30).map(i => s"b$i") ++ Seq("CHANGED") ++
      (31 until 60).map(i => s"b$i")).mkString(" ")
    val t40 = ((0 until 30).map(i => s"z$i") ++ Seq("EDITED") ++
      (31 until 60).map(i => s"z$i")).mkString(" ")
    val corpus = Seq(
      1L -> (0 until 60).map(i => s"a$i").mkString(" "),
      2L -> t2,
      13L -> (0 until 60).map(i => s"c$i").mkString(" "),
      31L -> t31,
      30L -> t30,
      40L -> t40)
    val tmp = stageDocs(corpus)
    val got = Registry.byName("q_store_append").build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    val want = naiveStoreAppend(corpus)
    assert(got === want, s"got=$got want=$want")
    assert(got.exists(p => p._1 == 40L && p._2 == 31L && p._3 == "delta1"),
      "delta2 doc 40 must match doc 31, which lives ONLY in the appended store files")
    assert(got.exists(p => p._1 == 30L && p._2 == 2L && p._3 == "base"))
  }

  test("q_store_append equals the naive grown-store replay on the real corpus") {
    val corpus = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = run("q_store_append")
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === naiveStoreAppend(corpus))
  }

  test("streaming HLL registers == batch registers at every stream prefix (256-row state bound)") {
    import spark.implicits._
    import graft.streaming.Streams
    val keys = Tables(spark, dir, "orders").select(col("o_custkey")).collect()
      .map(_.getLong(0)).toSeq
    val (half1, half2) = keys.splitAt(keys.size / 2)
    val staged = TestSpark.tempDir("shll")
    Seq(half1, half2).zipWithIndex.foreach { case (ks, i) =>
      ks.toDF("k").coalesce(1).write.parquet(s"$staged/f$i.parquet")
      import java.nio.file.{Files, Paths, FileVisitOption}
      import java.nio.file.attribute.FileTime
      Files.walk(Paths.get(s"$staged/f$i.parquet"), FileVisitOption.FOLLOW_LINKS)
        .filter(Files.isRegularFile(_))
        .forEach(p => Files.setLastModifiedTime(p,
          FileTime.fromMillis(1704067200000L + i * 60000L)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
    val q = Streams.hllRegistersStream(stream).writeStream
      .format("memory").queryName("hll_regs").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hll_regs").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    def registers(ks: Seq[Long]): Map[Int, Int] =
      ks.map { k =>
        val h = hash60(k.toString)
        val w = h / 256
        ((h % 256).toInt, if (w == 0) 53 else 53 - java.lang.Long.toBinaryString(w).length)
      }.groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
    assert(got === registers(keys), "final streaming registers must equal the batch funnel")
    assert(got.size <= 256, "state is bounded by the register count")
  }

  /** Naive LSH candidate pairs over an in-memory corpus (doc_a < doc_b). */
  private def naiveCandidates(corpus: Seq[(Long, String)]): Seq[(Long, Long)] = {
    val sigs = corpus.flatMap { case (id, t) => naiveSigs(t).map(id -> _) }.toMap
    (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq
      if a < b && bandKeys(sa).intersect(bandKeys(sb)).nonEmpty
    } yield (a, b)).sorted
  }

  test("q_rouge_pair equals the naive clipped-3-gram replay") {
    val corpus = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def grams(t: String): Map[String, Long] =
      tokens(t).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val gm = corpus.map { case (id, t) => id -> grams(t) }.toMap
    val want = naiveCandidates(corpus).map { case (a, b) =>
      val ga = gm(a); val gb = gm(b)
      val ov = ga.keySet.intersect(gb.keySet).toSeq.map(g => math.min(ga(g), gb(g))).sum
      val na = ga.values.sum; val nb = gb.values.sum
      val p = ov * 10000 / nb; val r = ov * 10000 / na
      (a, b, ov, na, nb, p, r,
        if (p + r == 0) null else java.lang.Long.valueOf(2 * p * r / (p + r)))
    }
    val got = run("q_rouge_pair").map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      if (r.isNullAt(7)) null else java.lang.Long.valueOf(r.getLong(7)))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_edit_distance equals the naive Levenshtein replay") {
    val corpus = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length).toLong
    }
    val byId = corpus.toMap
    val want = naiveCandidates(corpus).map { case (a, b) =>
      val d = lev(byId(a), byId(b))
      val la = byId(a).length.toLong; val lb = byId(b).length.toLong
      val mx = math.max(la, lb)
      (a, b, d, la, lb, (mx - d) * 10000 / mx)
    }
    val got = run("q_edit_distance").map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_winnowing equals the naive rightmost-min replay; the positional guarantee holds") {
    val corpus = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def fingerprints(t: String): Set[Long] = {
      val hs = tokens(t).sliding(3).filter(_.size == 3)
        .map(g => hash60(g.mkString(" "))).toIndexedSeq
      if (hs.size < 4) Set.empty
      else (0 to hs.size - 4).map { w =>
        val win = hs.slice(w, w + 4)
        val mn = win.min
        // rightmost minimum: the largest in-window position achieving mn
        win.lastIndexOf(mn) + w
      }.toSet.map((p: Int) => hs(p))
    }
    val fp = corpus.map { case (id, t) => id -> fingerprints(t) }.toMap
    val want = (for {
      (a, fa) <- fp.toSeq; (b, fb) <- fp.toSeq
      if a < b
      shared = fa.intersect(fb).size.toLong
      if shared >= 2
    } yield (a, b, shared, fa.size.toLong, fb.size.toLong,
      shared * 10000 / math.min(fa.size, fb.size))).sortBy(t => (t._1, t._2))
    val got = run("q_winnowing").map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want, s"got=$got want=$want")
    // positional guarantee on a synthetic pair: two docs sharing a 6-token
    // run (w + k - 1) share at least one fingerprint
    val run6 = (0 until 6).map(i => s"R$i").mkString(" ")
    val dA = s"${(0 until 20).map(i => s"x$i").mkString(" ")} $run6 tailA"
    val dB = s"headB $run6 ${(0 until 20).map(i => s"y$i").mkString(" ")}"
    assert(fingerprints(dA).intersect(fingerprints(dB)).nonEmpty,
      "a shared >= 6-token run must yield a shared fingerprint")
  }

  test("q_multiprobe_lsh equals the naive replay; multiprobe dominates single-bucket") {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val dims = vecs.head._2.length
    def sgn(p: Int, d: Int): Double =
      if ("89abcdef".contains(md5hex(s"p$p-$d").head)) 1.0 else -1.0
    def bucket(v: Array[Double]): String =
      (0 until 4).map { p =>
        val dp = (1 to dims).map(d => sgn(p, d) * v(d - 1)).sum
        if (dp > 0) "1" else "0"
      }.mkString
    val bks = vecs.map { case (id, v) => id -> bucket(v) }.toMap
    val pv = vecs.find(_._1 == 0L).get._2
    val pbk = bks(0L)
    val keys = (Set(pbk) ++ (0 until 4).map(i =>
      pbk.updated(i, if (pbk(i) == '1') '0' else '1')))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(t => t._1 * t._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val top10 = vecs.filter(_._1 != 0)
      .map { case (id, v) => (id, math.floor(cos(v, pv) * 10000 + 0.5) / 10000) }
      .sortBy(t => (-t._2, t._1)).take(10).map(_._1).toSet
    val single = vecs.filter(t => t._1 != 0 && bks(t._1) == pbk).map(_._1)
    val multi = vecs.filter(t => t._1 != 0 && keys(bks(t._1))).map(_._1)
    val want = Seq(
      ("multiprobe", multi.size.toLong, multi.count(top10).toLong),
      ("single", single.size.toLong, single.count(top10).toLong))
    val got = run("q_multiprobe_lsh").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, s"got=$got want=$want")
    val gm = got.map { case (m, n, h) => m -> (n, h) }.toMap
    assert(gm("multiprobe")._1 >= gm("single")._1 &&
      gm("multiprobe")._2 >= gm("single")._2,
      "multiprobe candidates and hits must dominate single-bucket")
  }

  test("q_hll_precision_sweep equals the naive per-m replay") {
    val keys = Tables(spark, dir, "orders").select(col("o_custkey")).collect()
      .map(_.getLong(0)).toSeq
    val exact = keys.distinct.size.toLong
    val arms = Seq((64, 55, 1.0462993238608057e20, 36028797018963968L),
      (256, 53, 4.2399330249068963e20, 9007199254740992L),
      (1024, 51, 1.7013287633207432e21, 2251799813685248L))
    val want = arms.map { case (m, p, c, pow) =>
      val regs = keys.map { k =>
        val h = hash60(k.toString); val w = h / m
        ((h % m).toInt, if (w == 0) p else p - java.lang.Long.toBinaryString(w).length)
      }.groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
      val z = BigInt(regs.values.map(r => 1L << (p - r)).sum) +
        BigInt(m - regs.size) * BigInt(pow)
      val v = m - regs.size
      val raw = c / z.toDouble
      val e = if (raw <= m * 2.5 && v > 0) m * math.log(m.toDouble / v) else raw
      val est = math.floor(e + 0.5).toLong
      (m.toLong, est, exact, math.abs(est - exact) * 1000000L / exact)
    }
    val got = run("q_hll_precision_sweep").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want, s"got=$got want=$want")
  }

  test("q_bloom_fpr_sweep equals the naive per-m replay; wider filters have fewer false positives") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), md5hex(r.getString(1))))
    val want = Seq(1024L -> 10, 4096L -> 12, 16384L -> 14).map { case (m, bits) =>
      def positions(ch: String) = {
        val hv = hash60(ch); (0 until 4).map(i => (hv >> (bits * i)) & (m - 1))
      }
      val base = docs.filter(_._1 % 10 != 0); val delta = docs.filter(_._1 % 10 == 0)
      val bitsSet = base.flatMap(d => positions(d._2)).toSet
      val probes = delta.map(_._2).distinct
      val hits = probes.count(ch => positions(ch).forall(bitsSet.contains))
      (m, base.map(_._2).distinct.size.toLong, bitsSet.size.toLong,
        probes.size.toLong, hits.toLong, hits * 1000000L / probes.size)
    }
    val got = run("q_bloom_fpr_sweep").map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === want, s"got=$got want=$want")
    assert(got.map(_._5).sliding(2).forall(s => s.head >= s.last),
      "bloom hits must not increase with filter width")
  }

  test("q_cms_width_sweep equals the naive per-width replay; narrower sketches overcount more") {
    val words = Tables(spark, dir, "documents")
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1).filter(_.nonEmpty)).toSeq
    val counts = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val top10 = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
    val want = Seq(128L -> 7, 512L -> 9, 2048L -> 11).map { case (wd, bits) =>
      def positions(w: String) = {
        val hv = hash60(w); (0 until 4).map(i => (i, (hv >> (bits * i)) & (wd - 1)))
      }
      val sketch = words.flatMap(positions).groupBy(identity)
        .map { case (k, g) => k -> g.size.toLong }
      val overs = top10.map { case (w, c) => positions(w).map(sketch).min - c }
      (wd, overs.sum, overs.max)
    }
    val got = run("q_cms_width_sweep").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, s"got=$got want=$want")
    assert(got.map(_._2).sliding(2).forall(s => s.head >= s.last),
      "total overcount must not increase with width")
  }

  // ---- TPC-H completion wave: exact in-memory replays over sf0.001 ----

  private case class Li(ok: Long, pk: Long, sk: Long, qty: Long, extc: Long,
      dbp: Long, tbp: Long, rf: String, ls: String, ship: java.time.LocalDateTime,
      revc: Long)
  private lazy val liRows: Seq[Li] = {
    Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .collect().map { r =>
        Li(r.getLong(0), r.getLong(1), r.getLong(2),
          math.floor(r.getDouble(3) + 0.5).toLong,
          math.floor(r.getDouble(4) * 100 + 0.5).toLong,
          math.floor(r.getDouble(5) * 10000 + 0.5).toLong,
          math.floor(r.getDouble(6) * 10000 + 0.5).toLong,
          r.getString(7), r.getString(8), r.getTimestamp(9).toLocalDateTime,
          math.floor(r.getDouble(4) * (1.0 - r.getDouble(5)) * 100 + 0.5).toLong)
      }.toSeq
  }
  private case class Ord(ok: Long, date: java.time.LocalDateTime, prio: String,
      status: String)
  private lazy val ordRows: Seq[Ord] =
    Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
      col("o_orderpriority"), col("o_orderstatus")).collect()
      .map(r => Ord(r.getLong(0), r.getTimestamp(1).toLocalDateTime,
        r.getString(2), r.getString(3))).toSeq
  private case class Prt(pk: Long, name: String, brand: String, typ: String,
      size: Int, retailc: Long)
  private lazy val prtRows: Seq[Prt] =
    Tables(spark, dir, "part").select(col("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      .collect().map(r => Prt(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), math.floor(r.getDouble(5) * 100 + 0.5).toLong)).toSeq
  private case class Sup(sk: Long, name: String, nk: Int, acctbalC: Long)
  private lazy val supRows: Seq[Sup] =
    Tables(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")).collect()
      .map(r => Sup(r.getLong(0), r.getString(1), r.getInt(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong)).toSeq
  private lazy val nations: Map[Int, (String, Int)] =
    Tables(spark, dir, "nation").select(col("n_nationkey"), col("n_name"),
      col("n_regionkey")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
  private lazy val regions: Map[Int, String] =
    Tables(spark, dir, "region").select(col("r_regionkey"), col("r_name"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  private def ts(s: String) = java.time.LocalDateTime.parse(s + "T00:00:00")

  test("q_tpch_q1 equals the naive replay (decimal charge accumulator included)") {
    val cut = ts("2001-08-06")
    val want = liRows.filter(!_.ship.isAfter(cut))
      .groupBy(l => (l.rf, l.ls)).toSeq.map { case ((rf, ls), g) =>
        val sq = g.map(_.qty).sum; val sb = g.map(_.extc).sum
        val sdp = g.map(l => BigInt(l.extc) * (10000 - l.dbp)).sum
        val sch = g.map(l => BigInt(l.extc) * (10000 - l.dbp) * (10000 + l.tbp)).sum
        val sd = g.map(_.dbp).sum; val n = g.size.toLong
        (rf, ls, sq, sb, (sdp / 10000).toLong, (sdp % 10000).toLong,
          (sch / 100000000L).toLong, (sch % 100000000L).toLong,
          sq * 100 / n, sb / n, sd / n, n)
      }.sortBy(t => (t._1, t._2))
    val got = run("q_tpch_q1").map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
      r.getLong(10), r.getLong(11))).toSeq
    assert(got === want)
  }

  test("q_tpch_q2 equals the naive min-cost-offer replay") {
    val eur = supRows.filter(s => regions(nations(s.nk)._2) == "EUROPE")
    val eurKeys = eur.map(_.sk).toSet
    val pks = prtRows.filter(p => p.size == 15 && p.typ == "STANDARD").map(_.pk).toSet
    // uc replay must match the engine exactly — FLOOR(extprice*100.0/qty+0.5)
    // computed from the raw doubles, not from the cents funnel
    val raw = Tables(spark, dir, "lineitem").select(col("l_partkey"),
      col("l_suppkey"), col("l_extendedprice"), col("l_quantity")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .filter(t => pks(t._1) && eurKeys(t._2))
    val offs = raw.map(t => (t._1, t._2,
      math.floor(t._3 * 100.0 / t._4 + 0.5).toLong)).distinct
    val minUc = offs.groupBy(_._1).map { case (pk, g) => pk -> g.map(_._3).min }
    val supBy = eur.map(s => s.sk -> s).toMap
    val wantSorted = offs.filter(o => o._3 == minUc(o._1)).toSeq
      .map(o => (supBy(o._2).acctbalC, supBy(o._2).name, nations(supBy(o._2).nk)._1,
        o._1, o._3))
      .sortBy(t => (-t._1, t._3, t._2, t._4)).take(100)
    val got = run("q_tpch_q2").map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === wantSorted)
  }

  test("q_tpch_q4 equals the naive exists replay") {
    val lo = ts("1997-03-01"); val hi = ts("1997-06-01")
    val byOk = liRows.groupBy(_.ok)
    val want = ordRows.filter(o => !o.date.isBefore(lo) && o.date.isBefore(hi))
      .filter(o => byOk.getOrElse(o.ok, Seq.empty)
        .exists(l => l.ship.isAfter(o.date.plusDays(30))))
      .groupBy(_.prio).toSeq.map { case (p, g) => (p, g.size.toLong) }.sortBy(_._1)
    val got = run("q_tpch_q4").map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("q_tpch_q9 equals the naive profit replay") {
    val widgets = prtRows.filter(_.name.contains("widget")).map(p => p.pk -> p.retailc).toMap
    val supNat = supRows.map(s => s.sk -> nations(s.nk)._1).toMap
    val ordYear = ordRows.map(o => o.ok -> o.date.getYear).toMap
    val want = liRows.filter(l => widgets.contains(l.pk))
      .map(l => ((supNat(l.sk), ordYear(l.ok)),
        l.revc - (l.qty * widgets(l.pk)) / 2))
      .groupBy(_._1).toSeq.map { case ((n, y), g) => (n, y, g.map(_._2).sum) }
      .sortBy(t => (t._1, -t._2))
    val got = run("q_tpch_q9").map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("q_tpch_q11 equals the naive threshold replay") {
    val n3 = supRows.filter(_.nk == 3).map(_.sk).toSet
    val pv = liRows.filter(l => n3(l.sk)).groupBy(_.pk)
      .map { case (pk, g) => (pk, g.map(_.revc).sum) }.toSeq
    val total = pv.map(_._2).sum
    val np = pv.size.toLong
    val want = pv.filter(_._2 * np > total * 2).sortBy(t => (-t._2, t._1)).take(100)
    val got = run("q_tpch_q11").map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("q_tpch_q12 equals the naive census replay") {
    val lo = ts("1997-01-01"); val hi = ts("1998-01-01")
    val ordBy = ordRows.map(o => o.ok -> o).toMap
    val high = Set("1-URGENT", "2-HIGH")
    val want = liRows.filter(l => Set("A", "R")(l.rf) &&
        !l.ship.isBefore(lo) && l.ship.isBefore(hi) &&
        l.ship.isAfter(ordBy(l.ok).date.plusDays(60)))
      .groupBy(_.rf).toSeq.map { case (rf, g) =>
        (rf, g.count(l => high(ordBy(l.ok).prio)).toLong,
          g.count(l => !high(ordBy(l.ok).prio)).toLong)
      }.sortBy(_._1)
    val got = run("q_tpch_q12").map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("q_tpch_q16 equals the naive bridge replay") {
    val sizes = Set(1, 4, 9, 14, 19, 23, 36, 45)
    val cells = prtRows.filter(p => p.brand != "Brand#5" && p.typ != "MEDIUM" &&
      sizes(p.size)).map(p => p.pk -> (p.brand, p.typ, p.size)).toMap
    val excl = supRows.filter(_.acctbalC < 0).map(_.sk).toSet
    val want = liRows.map(l => (l.pk, l.sk)).distinct
      .filter(t => cells.contains(t._1) && !excl(t._2))
      .groupBy(t => cells(t._1)).toSeq
      .map { case ((b, ty, sz), g) => (b, ty, sz, g.map(_._2).distinct.size.toLong) }
      .sortBy(t => (-t._4, t._1, t._2, t._3))
    val got = run("q_tpch_q16").map(r => (r.getString(0), r.getString(1),
      r.getInt(2), r.getLong(3))).toSeq
    assert(got === want)
  }

  test("q_tpch_q20 equals the naive excess-shipment replay") {
    val lo = ts("1997-01-01"); val hi = ts("1998-01-01")
    val smalls = prtRows.filter(_.name.startsWith("small ")).map(_.pk).toSet
    val winners = liRows.filter(l => smalls(l.pk)).groupBy(l => (l.sk, l.pk))
      .map { case ((sk, _), g) =>
        val q97 = g.filter(l => !l.ship.isBefore(lo) && l.ship.isBefore(hi)).map(_.qty).sum
        (sk, q97, g.map(_.qty).sum)
      }.filter(t => t._2 > 0 && t._2 * 2 > t._3).map(_._1).toSet
    val want = supRows.filter(s => s.nk == 3 && winners(s.sk))
      .map(s => (s.name, s.acctbalC)).sortBy(_._1)
    val got = run("q_tpch_q20").map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("q_tpch_q21 equals the naive sole-late-supplier replay") {
    val fOrders = ordRows.filter(_.status == "F").map(o => o.ok -> o.date).toMap
    val perOrder = liRows.filter(l => fOrders.contains(l.ok)).groupBy(_.ok)
      .flatMap { case (ok, g) =>
        val late = g.filter(_.ship.isAfter(fOrders(ok).plusDays(90)))
        val nSupp = g.map(_.sk).distinct.size
        val lateSupp = late.map(_.sk).distinct
        if (nSupp >= 2 && lateSupp.size == 1) Some(lateSupp.head) else None
      }.toSeq
    val supName = supRows.map(s => s.sk -> s.name).toMap
    val want = perOrder.groupBy(identity).toSeq
      .map { case (sk, g) => (supName(sk), g.size.toLong) }
      .sortBy(t => (-t._2, t._1)).take(100)
    val got = run("q_tpch_q21").map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("streaming content dedup == batch keep-first on an arrival-ordered planted stream") {
    import spark.implicits._
    import graft.streaming.Streams
    // planted exact dups; one file per doc, mtime-ordered, so arrival
    // order IS doc_id order and every copy lands within one watermark
    // horizon (ts = t0 + doc_id seconds; horizon 2 h >> 9 s)
    val corpus = plantedCorpus
    val t0 = 1704067200L * 1000000L
    val staged = TestSpark.tempDir("sdedup")
    corpus.sortBy(_._1).zipWithIndex.foreach { case ((id, text), i) =>
      Seq((id, text, t0 + id * 1000000L)).toDF("doc_id", "text", "ts_us")
        .select(col("doc_id"), col("text"), timestamp_micros(col("ts_us")).as("ts"))
        .coalesce(1).write.parquet(s"$staged/f%03d.parquet".format(i))
      import java.nio.file.{Files, Paths, FileVisitOption}
      import java.nio.file.attribute.FileTime
      Files.walk(Paths.get(s"$staged/f%03d.parquet".format(i)), FileVisitOption.FOLLOW_LINKS)
        .filter(Files.isRegularFile(_))
        .forEach(p => Files.setLastModifiedTime(p,
          FileTime.fromMillis(1704067200000L + i * 60000L)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*.parquet")
    val q = Streams.dedupDocsStream(stream).writeStream
      .format("memory").queryName("doc_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("doc_dedup").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    // batch keep-first == keep-lowest-id per content hash (q_dedup_exact rule)
    val want = corpus.groupBy { case (_, t) => md5hex(t) }
      .values.map(_.map(_._1).min).toSeq.sorted
    assert(got === want, s"got=$got want=$want")
    // the planted copies (20 of 3, 40 of 10) must be the dropped ones
    assert(!got.contains(20L) && !got.contains(40L) && got.contains(3L) && got.contains(10L))
  }
}
