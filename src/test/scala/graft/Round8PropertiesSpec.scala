package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive in-memory replays for the round-8 operators (the
  * Round7PropertiesSpec discipline): the oracle hash certifies the two
  * engines agree; these certify the statistic IS the statistic by
  * recomputing it with the dumbest possible Scala on sf0.001 and
  * demanding EXACT agreement.
  */
class Round8PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def run(name: String) = {
    val rows = Registry.byName(name).build(spark, dir).collect()
    Caches.releaseAll()
    rows
  }

  private def md5hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private def pround(x: Double, scale: Int): Double = {
    val f = math.pow(10, scale)
    math.floor(x * f + 0.5) / f
  }

  private lazy val docs: Seq[(Long, String, String, String)] =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq

  private def tokens(text: String): Seq[String] =
    text.split(" ", -1).filter(_.nonEmpty).toSeq

  /** The engine's LSH candidate pairs, replayed naively: distinct 3-gram
    * shingles → 16 XOR minhashes → 4 bands of 4 → bucket agreement.
    */
  private lazy val naiveCandidates: Set[(Long, Long)] = {
    val sigs = docs.flatMap { case (id, text, _, _) =>
      val sh = tokens(text).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      if (sh.isEmpty) None // shingle-less docs never enter the LSH
      else {
        val xs = sh.map(md5hash60)
        Some(id -> operators.DedupQueries.minhashSeeds.map(k => xs.map(_ ^ k).min))
      }
    }
    val buckets = for {
      (id, mh) <- sigs
      b <- 0 until 4
    } yield (b, mh.slice(b * 4, b * 4 + 4).mkString(",")) -> id
    buckets.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  test("q_span_dedup equals the naive diagonal run-merge over LSH candidates") {
    val pos = docs.map { case (id, text, _, _) =>
      id -> tokens(text).sliding(3).filter(_.size == 3).map(_.mkString(" "))
        .zipWithIndex.map { case (sh, i) => (i, sh) }.toSeq
    }.toMap
    val want = naiveCandidates.toSeq.flatMap { case (a, b) =>
      val byShB = pos(b).groupBy(_._2)
      val matches = pos(a).flatMap { case (i, sh) =>
        byShB.getOrElse(sh, Nil).map { case (j, _) => (i, j) }
      }
      if (matches.isEmpty) None
      else {
        // maximal runs: consecutive i on the same diagonal d = i - j
        val runs = matches.groupBy { case (i, j) => i - j }.values.flatMap { ms =>
          val is = ms.map(_._1).sorted
          // split into consecutive runs
          is.foldLeft(List.empty[List[Int]]) {
            case ((run :: rest), i) if run.headOption.contains(i - 1) =>
              (i :: run) :: rest
            case (acc, i) => List(i) :: acc
          }.map(_.size + 2) // span in tokens = run length + k - 1
        }.toSeq
        val longest = runs.max
        if (longest >= 5) Some((a, b, longest.toLong, runs.count(_ >= 5).toLong))
        else None
      }
    }.sortBy(t => (t._1, t._2))
    val got = run("q_span_dedup").map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Long]("longest_span"), r.getAs[Long]("n_spans")))
    assert(got.toSeq === want)
  }

  test("q_span_dedup pair space is a subset of the LSH candidate set") {
    val got = run("q_span_dedup").map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got.subsetOf(naiveCandidates),
      s"span pairs outside the candidate bound: ${got -- naiveCandidates}")
  }

  test("q_dsir_weights equals the naive hashed-bigram importance estimate") {
    val bigrams = docs.map { case (id, text, src, lang) =>
      val bs = tokens(text).sliding(2).filter(_.size == 2)
        .map(g => (md5hash60(g.mkString(" ")) % 256).toInt).toSeq
      (id, src, lang, bs)
    }
    val cr = Array.fill(256)(0L)
    val ct = Array.fill(256)(0L)
    bigrams.foreach { case (_, _, lang, bs) =>
      bs.foreach { b => cr(b) += 1; if (lang == "en") ct(b) += 1 }
    }
    val nr = cr.sum; val nt = ct.sum
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val lrU = (0 until 256).map { b =>
      math.floor((log2((ct(b) + 1).toDouble / (nt + 256).toDouble) -
        log2((cr(b) + 1).toDouble / (nr + 256).toDouble)) * 1e6).toLong
    }
    // the engine (and oracle) drop documents with fewer than 2 tokens
    // entirely — no row survives the bigram explode — so the naive
    // per-source grouping must use the same document universe
    val bySource = bigrams.filter(_._4.nonEmpty).groupBy(_._2)
    val want = bySource.toSeq.map { case (src, ds) =>
      val logws = ds.map { case (_, _, _, bs) => bs.map(b => lrU(b)).sum }
      val sum = logws.sum
      (src, ds.size.toLong, sum,
        pround(sum.toDouble / ds.size.toDouble / 1e6, 4))
    }.sortBy(_._1)
    val got = run("q_dsir_weights").map(r => (r.getAs[String]("source"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("sum_logw_u"),
      r.getAs[Double]("mean_logw_bits")))
    assert(got.toSeq === want)
  }

  test("q_span_leakage equals the naive chunk-overlap audit") {
    val chunks = docs.flatMap { case (id, text, _, _) =>
      val ws = tokens(text)
      if (ws.isEmpty) Nil
      else (0 to (ws.size - 1) / 32).map(i => (id, ws.slice(i * 32, i * 32 + 32).mkString(" ")))
    }
    val train = docs.map(_._1).filter(id => md5hash60(s"split$id") % 100 < 90).toSet
    val trainChunks = chunks.filter(c => train(c._1)).map(_._2).toSet
    val test = chunks.filterNot(c => train(c._1))
    val leaked = test.filter(c => trainChunks(c._2))
    val r = run("q_span_leakage")(0)
    assert(r.getAs[Long]("n_test_docs") === test.map(_._1).distinct.size.toLong)
    assert(r.getAs[Long]("n_test_chunks") === test.size.toLong)
    assert(r.getAs[Long]("n_leaked_chunks") === leaked.size.toLong)
    assert(r.getAs[Long]("n_affected_docs") === leaked.map(_._1).distinct.size.toLong)
    assert(r.getAs[Double]("leak_rate") ===
      pround(leaked.size.toDouble / test.size.toDouble, 4))
  }

  test("q_bpe_merge2 equals the naive two-round BPE census") {
    val texts = docs.map(_._2)
    def pairsOf(ts: Seq[String]): Map[String, Long] =
      ts.flatMap(t => t.sliding(2).filter(p => p.length == 2 && !p.contains(' ')))
        .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val r1 = pairsOf(texts)
    val mp = r1.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
    val merged = texts.map(_.replace(mp, "\u0001"))
    def render(c: Char): String = if (c == '\u0001') s"<$mp>" else c.toString
    val want = merged
      .flatMap(t => t.sliding(2).filter(_.length == 2))
      .filter(p => p(0) != ' ' && p(1) != ' ')
      .groupBy(p => (render(p(0)), render(p(1))))
      .map { case (k, g) => (k._1, k._2, g.size.toLong) }.toSeq
      .sortBy { case (a, b, c) => (-c, a, b) }.take(10)
    val got = run("q_bpe_merge2").map(r =>
      (r.getAs[String]("s1"), r.getAs[String]("s2"), r.getAs[Long]("cnt")))
    assert(got.toSeq === want)
  }

  test("q_good_turing equals the naive bigram spectrum estimator") {
    val counts = docs.flatMap { case (_, text, _, _) =>
      tokens(text).sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }.groupBy(identity).map { case (_, g) => g.size.toLong }
    val ff = counts.groupBy(identity).map { case (n, g) => n -> g.size.toLong }
    val nTokens = ff.map { case (n, t) => n * t }.sum
    val want = ff.filter(_._1 <= 10).toSeq.sortBy(_._1).map { case (r, nr) =>
      val nr1 = ff.getOrElse(r + 1, 0L)
      val rStar = if (nr1 == 0) null
        else java.lang.Double.valueOf(pround((r + 1).toDouble * nr1 / nr, 4))
      val mass = if (nr1 == 0) null
        else java.lang.Double.valueOf(pround((r + 1).toDouble * nr1 / nTokens, 4))
      (r, nr, nr1, rStar, mass)
    }
    val got = run("q_good_turing").map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_r"),
      r.getAs[Long]("n_r1"), r.getAs[java.lang.Double]("r_star"),
      r.getAs[java.lang.Double]("mass_share")))
    assert(got.toSeq === want)
  }

  test("q_mixture_allocation conserves the budget exactly and matches Hamilton quotas") {
    val B = 1000000L
    val toks = docs.groupBy(_._3).map { case (src, ds) =>
      src -> ds.map(d => tokens(d._2).size.toLong).sum
    }.filter(_._2 > 0)
    val w = toks.map { case (s, t) => s -> math.floor(math.sqrt(t.toDouble) * 1e6).toLong }
    val wtot = w.values.map(BigInt(_)).sum
    val base = w.map { case (s, wi) => s -> ((BigInt(wi) * B) / wtot).toLong }
    val rem = w.map { case (s, wi) => s -> (BigInt(wi) * B) % wtot }
    val leftover = (B - base.values.sum).toInt
    val plusOne = rem.toSeq.sortBy { case (s, r) => (-r, s) }.take(leftover).map(_._1).toSet
    val want = base.map { case (s, b) => (s, w(s), b + (if (plusOne(s)) 1L else 0L)) }
      .toSeq.sortBy(_._1)
    val got = run("q_mixture_allocation").map(r => (r.getAs[String]("source"),
      r.getAs[Long]("weight_u"), r.getAs[Long]("alloc_tokens")))
    assert(got.toSeq === want)
    assert(got.map(_._3).sum === B, "allocation must conserve the budget exactly")
  }

  test("q_quality_ensemble equals the naive first-failing-rule cascade") {
    val reasons = docs.map { case (_, text, _, _) =>
      val ws = tokens(text)
      val nt = ws.size.toLong
      val charSum = ws.map(w => w.codePointCount(0, w.length).toLong).sum
      val al = if (nt == 0) 0.0 else charSum.toDouble / nt
      val stop = Set("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
      val ratio = if (nt == 0) 0.0 else ws.count(stop).toDouble / nt
      val sc = math.min(nt / 100.0, 1.0) * 0.4 + ratio * 0.3 + math.min(al / 8.0, 1.0) * 0.3
      lazy val tg = ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      if (nt < 30) "too_short"
      else if (al < 3.0 || al > 12.0) "word_len"
      else if (1.0 - tg.distinct.size.toDouble / tg.size > 0.2) "repetitive"
      else if (sc < 0.4) "low_quality"
      else "kept"
    }
    val counts = reasons.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
    val total = reasons.size.toLong
    val wantRows = counts.toSeq.sortBy(_._1).map { case (r, n) =>
      (r, n, pround(n.toDouble / total, 4))
    }
    val got = run("q_quality_ensemble").map(r => (r.getAs[String]("reason"),
      r.getAs[Long]("n_docs"), r.getAs[Double]("share")))
    assert(got.toSeq === wantRows)
  }

  test("q_simhash_hamming equals the naive all-pairs Hamming histogram (pigeonhole completeness)") {
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val high = "89abcdef".toSet
    val sigs = docs.filter(_._1 < 500).flatMap { case (id, text, _, _) =>
      val ws = tokens(text)
      if (ws.isEmpty) None
      else {
        val votes = Array.fill(32)(0)
        ws.foreach { w =>
          val h = md5hex(w)
          for (i <- 0 until 32) votes(i) += (if (high(h(i))) 1 else -1)
        }
        Some(id -> votes.map(v => if (v > 0) '1' else '0').mkString)
      }
    }.sortBy(_._1)
    // naive ALL-PAIRS scan — no bands; pigeonhole completeness means the
    // banded query must find every one of these pairs
    val pairs = for {
      i <- sigs.indices; j <- (i + 1) until sigs.size
      d = sigs(i)._2.zip(sigs(j)._2).count { case (a, b) => a != b }
      if d <= 3
    } yield (sigs(i)._1, d)
    val want = pairs.groupBy(_._2).map { case (h, g) =>
      (h, g.size.toLong, g.map(_._1).distinct.size.toLong)
    }.toSeq.sortBy(_._1)
    val got = run("q_simhash_hamming").map(r => (r.getAs[Int]("hamming"),
      r.getAs[Long]("n_pairs"), r.getAs[Long]("n_left_docs")))
    assert(got.toSeq === want)
  }

  test("q_dsir_weights: an all-target corpus weights every document exactly zero") {
    // structural sanity of the estimator run END-TO-END: when every
    // document is in the target language the target and raw bucket
    // distributions coincide, the log-ratio table is exactly zero, and
    // every per-doc weight must come out 0 — asserted through the real
    // query on a tiny all-English fixture, not a hand replay.
    import spark.implicits._
    val tmp = TestSpark.tempDir("dsir-allen")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "web", "en"),
      (2L, "pack my box with five dozen liquor jugs", "web", "en"),
      (3L, "a stitch in time saves nine every single day", "books", "en"))
      .toDF("doc_id", "text", "source", "lang")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = Registry.byName("q_dsir_weights").build(spark, tmp).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_logw_u") === 0L)
      assert(r.getAs[Double]("mean_logw_bits") === 0.0)
    }
  }
}
