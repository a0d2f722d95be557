package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable summaries — the sketch layer every INCREMENTAL pipeline
  * stands on (the q_dedup_incremental / q_incremental_agg companion
  * family): a nightly delta must update corpus-level statistics without
  * re-scanning the corpus, which only works for summaries that merge —
  * distinct counts (HyperLogLog registers, Flajolet et al.), membership
  * (Bloom filters, the store-side pre-filter), and uniform samples
  * (bottom-k by hash, Cohen & Kaplan). q_incremental_agg measured the
  * class boundary (naive per-vintage distinct sums over-count by the
  * repeat keys and named HLL as the production merge); this family
  * builds the actual merges, all in portable integer funnels so the
  * DuckDB oracle replays them bit-for-bit.
  *
  * Portability: one md5-derived 60-bit integer per key
  * ([[Portable.hash60]]); register ranks via length(bin(w)) — pure
  * integer/string, no float log2 knife edges; Z accumulators as exact
  * bigint sums of powers of two; the single HLL bias constant
  * α·m²·2^53 inlined as ONE shared double literal.
  */
object SketchQueries {

  /** 2^53 (the HLL register-sum scale: an empty register contributes
    * 2^(53-0)).
    */
  private val Pow53 = 9007199254740992L

  /** α_256 · 256² · 2^53 — the HLL raw-estimate numerator, precomputed
    * to ONE double literal both engines parse identically
    * (α_m = 0.7213/(1 + 1.079/m), Flajolet et al. 2007).
    */
  private val HllC = 4.2399330249068963e20

  /** Orders keyed by customer (`k`) and split into base/delta vintages at
    * the midpoint of their date span — the q_incremental_agg split. */
  private def vintageKeys(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val span = broadcast(o.agg(min(col("o_orderdate")).as("dmin"),
      max(col("o_orderdate")).as("dmax")))
    o.crossJoin(span)
      .select(col("o_custkey").as("k"),
        when(datediff(col("o_orderdate"), col("dmin")) * 2 <=
          datediff(col("dmax"), col("dmin")), lit("base")).otherwise(lit("delta"))
          .as("vintage"))
  }

  /** Oracle twin of [[vintageKeys]]: CTEs `span` and `tagged`. */
  private val vintageCtes =
    """span AS (SELECT MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
                FROM orders),
       tagged AS (SELECT o_custkey AS k,
                    CASE WHEN (CAST(o_orderdate AS DATE) - CAST(span.dmin AS DATE)) * 2 <=
                              (CAST(span.dmax AS DATE) - CAST(span.dmin AS DATE))
                         THEN 'base' ELSE 'delta' END AS vintage
                  FROM orders, span)"""

  /** The theta sketches' inputs: the [[vintageKeys]] rows with their
    * key hash `h` (cached), and each vintage's bottom-128 distinct
    * hashes (base, delta; cached). */
  private def bottomKSamples(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val keyed = graft.Caches.persisted(
      vintageKeys(spark, dir).select(col("vintage"), col("k"),
        Portable.hash60(col("k").cast("string")).as("h")))
    def sample(v: String): DataFrame =
      keyed.filter(col("vintage") === v).select(col("h")).distinct()
        .orderBy(col("h")).limit(128)
    (keyed, graft.Caches.persisted(sample("base")), graft.Caches.persisted(sample("delta")))
  }

  /** Oracle twin of [[bottomKSamples]]: `keyed`, `sa` and `sb`. */
  private val bottomKCtes =
    s"""$vintageCtes,
        keyed AS (SELECT vintage, k,
                    CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS h
                  FROM tagged),
        sa AS (SELECT DISTINCT h FROM keyed WHERE vintage = 'base'
               ORDER BY h LIMIT 128),
        sb AS (SELECT DISTINCT h FROM keyed WHERE vintage = 'delta'
               ORDER BY h LIMIT 128)"""

  /** Each part's HLL estimate (from its register sum `z` and empty
    * register count `v`, small-range corrected) beside its exact count,
    * with the error in exact ppm. */
  private def hllReport(ests: DataFrame, exacts: DataFrame): DataFrame = {
    val raw = lit(HllC) / col("z").cast("double")
    val corrected = when(raw <= 640.0 && col("v") > 0,
      lit(256.0) * log(lit(256.0) / col("v").cast("double"))).otherwise(raw)
    ests.join(exacts, "part")
      .select(col("part"), col("exact"),
        floor(corrected + 0.5d).cast("long").as("hll_est"))
      .select(col("part"), col("exact"), col("hll_est"),
        when(col("exact") === 0, lit(null).cast("long"))
          .otherwise(expr("abs(hll_est - exact) * 1000000 div exact")).as("err_ppm"))
      .orderBy(col("part"))
  }

  /** Oracle CTE `parts`: each `pl` part's register sum `z` and empty
    * register count `v` from its filled-register stats `pr`. */
  private val hllPartsCte =
    s"""parts AS (SELECT pl.part,
                    COALESCE(pr.zp, 0) + (256 - COALESCE(pr.nf, 0)) * $Pow53 AS z,
                    256 - COALESCE(pr.nf, 0) AS v
                  FROM pl LEFT JOIN pr ON pr.part = pl.part)"""

  /** Oracle twin of [[hllReport]] over `parts` and the exact counts `ex`. */
  private val hllReportSql =
    s"""est AS (SELECT p.part,
                  CASE WHEN CAST($HllC AS DOUBLE) / CAST(z AS DOUBLE) <= 640.0
                            AND v > 0
                       THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
                       ELSE CAST($HllC AS DOUBLE) / CAST(z AS DOUBLE)
                  END AS e
                FROM parts p)
        SELECT ex.part, ex.exact,
          CAST(FLOOR(est.e + 0.5) AS BIGINT) AS hll_est,
          CASE WHEN ex.exact = 0 THEN NULL
               ELSE CAST(ABS(CAST(FLOOR(est.e + 0.5) AS BIGINT) - ex.exact)
                 * 1000000 // ex.exact AS BIGINT)
          END AS err_ppm
        FROM ex JOIN est ON est.part = ex.part
        ORDER BY ex.part"""

  /** Probes tonight's (doc_id ≡ 0 mod 10) content hashes against a
    * filter's `bits` and censuses the hits against the member hashes
    * `hashes`: probes, bloom_hits, true_dups, false_pos. */
  private def bloomProbeCounts(positioned: DataFrame, bits: DataFrame,
      hashes: DataFrame): DataFrame = {
    // dedup (ch, bit) BEFORE the probe join (ADVICE r11): repeated
    // delta content hashes would otherwise double the per-ch matched
    // count (matched = 8 for a genuine duplicate pair ≠ 4 → silent
    // miss), and a doc whose 4 carved positions collide would need
    // fewer than 4 distinct matches; the hit test compares distinct
    // matched bits against the ch's own distinct-bit count
    val deltaPairs = positioned.filter(col("doc_id") % 10 === 0)
      .select(col("ch"), col("bit")).distinct()
    val probeMatch = deltaPairs
      .join(broadcast(bits.select(col("bit").as("b"))),
        col("bit") === col("b"), "left")
      .groupBy(col("ch")).agg(count(col("b")).as("matched"),
        count(lit(1)).as("need"))
    val probed = probeMatch
      .join(hashes.select(col("ch").as("bh")), col("ch") === col("bh"), "left")
      .select((col("matched") === col("need")).as("hit"), col("bh").isNotNull.as("indeed"))
    probed.agg(
      count(lit(1)).cast("bigint").as("probes"),
      count_if(col("hit")).cast("bigint").as("bloom_hits"),
      count_if(col("hit") && col("indeed")).cast("bigint").as("true_dups"),
      count_if(col("hit") && !col("indeed")).cast("bigint").as("false_pos"))
  }

  /** Oracle twin of [[bloomPositionedOf]]: CTEs `docs`, `hp`, `positioned`. */
  private val positionedCtes =
    """docs AS (SELECT doc_id, md5(text) AS ch FROM documents),
       hp AS (SELECT doc_id, ch,
                CAST('0x' || substr(md5(ch), 1, 15) AS BIGINT) AS hv
              FROM docs),
       positioned AS (SELECT doc_id, ch, (hv >> (12 * i)) & 4095 AS bit
                      FROM hp, UNNEST(generate_series(0, 3)) AS u(i))"""

  /** Oracle twin of [[bloomProbeCounts]] against the CTEs `bits` and
    * `hashes` (aliased `ha`). */
  private def bloomProbeCtes(bits: String, hashes: String, ha: String): String =
    s"""dpairs AS (SELECT DISTINCT ch, bit FROM positioned WHERE doc_id % 10 = 0),
        probem AS (SELECT p.ch, COUNT(b.bit) AS matched, COUNT(*) AS need
                   FROM dpairs p LEFT JOIN $bits b ON b.bit = p.bit
                   GROUP BY p.ch),
        probed AS (SELECT pm.matched = pm.need AS hit, $ha.ch IS NOT NULL AS indeed
                   FROM probem pm LEFT JOIN $hashes $ha ON $ha.ch = pm.ch),
        counts AS (SELECT CAST(COUNT(*) AS BIGINT) AS probes,
                     CAST(COUNT(*) FILTER (WHERE hit) AS BIGINT) AS bloom_hits,
                     CAST(COUNT(*) FILTER (WHERE hit AND indeed) AS BIGINT) AS true_dups,
                     CAST(COUNT(*) FILTER (WHERE hit AND NOT indeed) AS BIGINT) AS false_pos
                   FROM probed)"""

  /** HyperLogLog distinct-merge across data vintages — incremental
    * COUNT DISTINCT: orders split into base/delta halves by date (the
    * q_incremental_agg split whose naive merge over-counts repeat
    * customers), per-vintage 256-register HLL sketches built in one
    * pass each, and the MERGED estimate computed from per-register MAX
    * of the two sketches — never from re-scanning the union. Per part
    * (base, delta, merged): exact distinct custkeys, HLL estimate, and
    * the error in exact ppm — the measured accuracy of the mergeable
    * path against the ground truth whose shuffle it avoids.
    *
    * Register funnel (portable): h = hash60(key); bucket j = h mod 256;
    * w = h div 256 (52 bits); rank ρ = 53 − length(bin(w)) (w=0 → 53);
    * M_j = max ρ. Z = Σ_j 2^(53−M_j) summed as EXACT bigint (empty
    * registers contribute 2^53), so the only float steps are the final
    * C/Z division and the standard small-range correction
    * m·ln(m/V) — identical operand order both engines.
    *
    * Scale posture (100 TB): each sketch is one partial+final MAX
    * aggregate into 256 rows; the merge is a 256-row MAX — state is
    * O(m) regardless of corpus size, the whole point. The three parts'
    * 1-row estimates are unioned driver-free.
    */
  private val hllMerge = Q(
    "q_hll_merge",
    (spark, dir) => {
      val keyed = graft.Caches.persisted(
        vintageKeys(spark, dir)
          .select(col("vintage"), Portable.hash60(col("k").cast("string")).as("h"), col("k"))
          .select(col("vintage"), col("k"), (col("h") % 256).cast("int").as("j"),
            expr("h div 256").as("w"))
          .select(col("vintage"), col("k"), col("j"),
            when(col("w") === 0, lit(53))
              .otherwise(lit(53) - length(bin(col("w")))).cast("int").as("r")))
      val regs = graft.Caches.persisted(
        keyed.groupBy(col("vintage"), col("j")).agg(max(col("r")).as("m")))
      val merged = regs.groupBy(col("j")).agg(max(col("m")).as("m"))
      def estimate(r: DataFrame, part: String): DataFrame =
        r.agg(count(lit(1)).as("nf"),
            coalesce(sum(expr("shiftleft(cast(1 as bigint), 53 - m)")), lit(0L)).as("zp"))
          .select(lit(part).as("part"),
            (col("zp") + (lit(256L) - col("nf")) * lit(Pow53)).as("z"),
            (lit(256L) - col("nf")).as("v"))
      def exact(rel: DataFrame, part: String): DataFrame =
        rel.agg(countDistinct(col("k")).cast("bigint").as("exact"))
          .select(lit(part).as("part"), col("exact"))
      val ests = estimate(regs.filter(col("vintage") === "base"), "base")
        .unionAll(estimate(regs.filter(col("vintage") === "delta"), "delta"))
        .unionAll(estimate(merged, "merged"))
      val exacts = exact(keyed.filter(col("vintage") === "base"), "base")
        .unionAll(exact(keyed.filter(col("vintage") === "delta"), "delta"))
        .unionAll(exact(keyed, "merged"))
      hllReport(ests, exacts)
    },
    Some(s"""WITH $vintageCtes,
             keyed AS (SELECT vintage, k, CAST(h % 256 AS INT) AS j,
                         CASE WHEN h // 256 = 0 THEN 53
                              ELSE 53 - length(bin(h // 256)) END AS r
                       FROM (SELECT vintage, k,
                               CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS h
                             FROM tagged)),
             regs AS (SELECT vintage, j, MAX(r) AS m FROM keyed GROUP BY vintage, j),
             mregs AS (SELECT j, MAX(m) AS m FROM regs GROUP BY j),
             pl AS (SELECT * FROM (VALUES ('base'), ('delta'), ('merged')) AS t(part)),
             pr AS (SELECT vintage AS part, COUNT(*) AS nf,
                      SUM(CAST(1 AS BIGINT) << (53 - m)) AS zp
                    FROM regs GROUP BY vintage
                    UNION ALL
                    SELECT 'merged', COUNT(*), SUM(CAST(1 AS BIGINT) << (53 - m))
                    FROM mregs),
             $hllPartsCte,
             ex AS (SELECT pl.part, COALESCE(e.exact, 0) AS exact FROM pl
                    LEFT JOIN (SELECT vintage AS part,
                                 CAST(COUNT(DISTINCT k) AS BIGINT) AS exact
                               FROM keyed GROUP BY vintage
                               UNION ALL
                               SELECT 'merged', CAST(COUNT(DISTINCT k) AS BIGINT)
                               FROM keyed) e ON e.part = pl.part),
             $hllReportSql"""))

  /** Bloom-filter membership pre-filter for the incremental pipeline —
    * the store-side gate in front of q_dedup_incremental's exact join
    * (at 100 TB the nightly delta first probes an m-bit corpus filter;
    * only possible-members pay the store lookup). Base documents (the
    * q_dedup_incremental split) hash into a 4096-bit / 4-hash filter —
    * the four 12-bit positions carved from ONE hash60 value, so both
    * engines set identical bits — and every delta content hash probes
    * it. Reported: filter geometry, load, probe outcome census, and the
    * measured false-positive rate in exact ppm (all delta docs are
    * true negatives on this corpus — the fixture has no exact dups —
    * so every hit is a false positive; the analytic rate at this load,
    * (1−e^{−kn/m})^k, is the number to compare against).
    *
    * Scale posture: the bit relation is ≤ m distinct integers from one
    * partial-aggregated pass; probes join positions against the
    * broadcast-scale bit set and partial-count matches per key. The
    * filter itself merges by construction (bits(A∪B) = bits(A)∪bits(B))
    * — the measured claim is the probe economics.
    */
  private val bloomIncremental = Q(
    "q_bloom_incremental",
    (spark, dir) => {
      val positioned = graft.Caches.persisted(bloomPositionedOf(spark, dir))
      val baseP = positioned.filter(col("doc_id") % 10 =!= 0)
      val baseBits = graft.Caches.persisted(baseP.select(col("bit")).distinct())
      val baseHashes = baseP.select(col("ch")).distinct()
      val counts = bloomProbeCounts(positioned, baseBits, baseHashes)
      val geom = baseBits.agg(count(lit(1)).cast("bigint").as("bits_set"))
        .crossJoin(baseHashes.agg(count(lit(1)).cast("bigint").as("n_base")))
      geom.crossJoin(counts)
        .select(lit(4096L).as("m_bits"), lit(4L).as("k_hashes"),
          col("n_base"), col("bits_set"), col("probes"), col("bloom_hits"),
          col("true_dups"), col("false_pos"),
          when(col("probes") - col("true_dups") === 0, lit(null).cast("long"))
            .otherwise(expr("false_pos * 1000000 div (probes - true_dups)"))
            .as("fpr_ppm"))
    },
    Some(s"""WITH $positionedCtes,
            basebits AS (SELECT DISTINCT bit FROM positioned WHERE doc_id % 10 <> 0),
            basehashes AS (SELECT DISTINCT ch FROM positioned WHERE doc_id % 10 <> 0),
            ${bloomProbeCtes("basebits", "basehashes", "bh")},
            geom AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM basebits) AS bits_set,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM basehashes) AS n_base)
            SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
              n_base, bits_set, probes, bloom_hits, true_dups, false_pos,
              CASE WHEN probes - true_dups = 0 THEN NULL
                   ELSE CAST(false_pos * 1000000 // (probes - true_dups) AS BIGINT)
              END AS fpr_ppm
            FROM geom CROSS JOIN counts"""))

  /** Bottom-k mergeable sampling — the uniform-sample summary that
    * merges exactly (Cohen & Kaplan: the k smallest hash values of a
    * union are a subset of the union of each side's k smallest), which
    * is what an incremental pipeline needs for a standing corpus
    * sample: each vintage keeps its bottom-32 by hash60(doc_id), the
    * merged sample is the bottom-32 OF THE TWO 32-ROW SAMPLES, and the
    * output proves the merge exact by reporting the direct bottom-32
    * of the whole corpus beside it — identical n/sum_ids/kth_hash by
    * the bottom-k property (and the kth_hash column is the sampling
    * threshold an estimator would invert). Contrast q_reservoir_sample:
    * a reservoir needs coordinated random state to merge; bottom-k
    * needs a MIN.
    *
    * Scale posture: per vintage one TakeOrdered(32) head (per-partition
    * top-k merge, no global sort); the merge ranks 64 driver-free rows.
    */
  private val bottomkSample = Q(
    "q_bottomk_sample",
    (spark, dir) => {
      val keyed = graft.Caches.persisted(
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 10 === 0).as("isdelta"),
            Portable.hash60(col("doc_id").cast("string")).as("h")))
      def bottom(rel: DataFrame): DataFrame =
        rel.orderBy(col("h"), col("doc_id")).limit(32)
      val base32 = bottom(keyed.filter(!col("isdelta")))
      val delta32 = bottom(keyed.filter(col("isdelta")))
      val merged32 = bottom(base32.unionAll(delta32))
      val direct32 = bottom(keyed)
      def report(sample: DataFrame, src: DataFrame, part: String): DataFrame =
        sample.agg(count(lit(1)).cast("bigint").as("k_rows"),
            coalesce(sum(col("doc_id")), lit(0L)).cast("bigint").as("sum_ids"),
            coalesce(max(col("h")), lit(0L)).cast("bigint").as("kth_hash"))
          .crossJoin(src.agg(count(lit(1)).cast("bigint").as("n_in")))
          .select(lit(part).as("part"), col("n_in"), col("k_rows"),
            col("sum_ids"), col("kth_hash"))
      report(base32, keyed.filter(!col("isdelta")), "base")
        .unionAll(report(delta32, keyed.filter(col("isdelta")), "delta"))
        .unionAll(report(merged32, keyed, "merged"))
        .unionAll(report(direct32, keyed, "direct"))
        .orderBy(col("part"))
    },
    Some("""WITH keyed AS (SELECT doc_id, doc_id % 10 = 0 AS isdelta,
                             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) AS h
                           FROM documents),
            b32 AS (SELECT doc_id, h FROM keyed WHERE NOT isdelta
                    ORDER BY h, doc_id LIMIT 32),
            d32 AS (SELECT doc_id, h FROM keyed WHERE isdelta
                    ORDER BY h, doc_id LIMIT 32),
            m32 AS (SELECT doc_id, h FROM
                      (SELECT * FROM b32 UNION ALL SELECT * FROM d32)
                    ORDER BY h, doc_id LIMIT 32),
            f32 AS (SELECT doc_id, h FROM keyed ORDER BY h, doc_id LIMIT 32),
            rep AS (
              SELECT 'base' AS part,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM keyed WHERE NOT isdelta) AS n_in,
                CAST(COUNT(*) AS BIGINT) AS k_rows,
                CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids,
                CAST(COALESCE(MAX(h), 0) AS BIGINT) AS kth_hash
              FROM b32
              UNION ALL
              SELECT 'delta',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM keyed WHERE isdelta),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(MAX(h), 0) AS BIGINT)
              FROM d32
              UNION ALL
              SELECT 'merged', (SELECT CAST(COUNT(*) AS BIGINT) FROM keyed),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(MAX(h), 0) AS BIGINT)
              FROM m32
              UNION ALL
              SELECT 'direct', (SELECT CAST(COUNT(*) AS BIGINT) FROM keyed),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(MAX(h), 0) AS BIGINT)
              FROM f32)
            SELECT part, n_in, k_rows, sum_ids, kth_hash FROM rep ORDER BY part"""))

  /** Count-Min-sketch heavy-hitter MERGE across data vintages (Cormode &
    * Muthukrishnan 2005) — the frequency summary that updates under a
    * nightly delta by elementwise ADD, never a union re-count: per
    * vintage a depth-4 × width-512 counter table built in one pass over
    * the word stream (the four 9-bit row positions carved from ONE
    * hash60 value, so both engines increment identical counters), the
    * merged sketch = per-(row,position) SUM of the vintage sketches, and
    * the top-10 exact words probed against it — reporting exact count,
    * CMS estimate from the MERGED sketch, and the overestimate (≥ 0
    * always, the one-sided CMS guarantee; q_heavy_hitters probes Spark's
    * built-in driver-side CMS, THIS one is the distributed portable
    * twin whose merge the oracle replays bit-for-bit).
    *
    * Scale posture (100 TB): each vintage sketch is one partial+final
    * COUNT into ≤ 2048 rows; the merge is a ≤ 2048-row SUM; the probe
    * joins 40 (word,row) keys against the broadcast counter relation —
    * sketch state is O(d·w) regardless of corpus size.
    */
  private val cmsMerge = Q(
    "q_cms_merge",
    (spark, dir) => {
      val words = graft.Caches.persisted(
        Tables.spreadIfUnderSplitAtScale(
            Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
          .select((col("doc_id") % 10 === 0).as("isdelta"),
            explode(graft.functions.TextOps.wordsNative(lower(col("text")))).as("word")))
      val hv = Portable.hash60(col("word"))
      val positioned = words
        .select(col("isdelta"), col("word"), hv.as("hv"))
        .select(col("isdelta"), col("word"),
          posexplode(array((0 until 4).map(i =>
            shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
        .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
      val vsketch = positioned.groupBy(col("isdelta"), col("d"), col("p"))
        .agg(count(lit(1)).as("c"))
      val merged = vsketch.groupBy(col("d"), col("p")).agg(sum(col("c")).as("c"))
      val top10 = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(10)
      top10
        .select(col("word"), col("cnt"), hv.as("hv"))
        .select(col("word"), col("cnt"),
          posexplode(array((0 until 4).map(i =>
            shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
        .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
        .join(broadcast(merged), Seq("d", "p"))
        .groupBy(col("word"), col("cnt")).agg(min(col("c")).as("cms_est"))
        .select(col("word"), col("cnt").cast("bigint").as("cnt"),
          col("cms_est").cast("bigint").as("cms_est"),
          (col("cms_est") - col("cnt")).cast("bigint").as("overcount"))
        .orderBy(col("word"))
    },
    Some("""WITH words AS (SELECT doc_id % 10 = 0 AS isdelta, word
                           FROM (SELECT doc_id,
                                   UNNEST(string_split(lower(text), ' ')) AS word
                                 FROM documents)
                           WHERE word <> ''),
            hw AS (SELECT isdelta, word,
                     CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
                   FROM words),
            positioned AS (SELECT isdelta, word, i AS d, (hv >> (9 * i)) & 511 AS p
                           FROM hw, UNNEST(generate_series(0, 3)) AS u(i)),
            vsketch AS (SELECT isdelta, d, p, CAST(COUNT(*) AS BIGINT) AS c
                        FROM positioned GROUP BY isdelta, d, p),
            merged AS (SELECT d, p, SUM(c) AS c FROM vsketch GROUP BY d, p),
            top10 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM words GROUP BY word
                      ORDER BY cnt DESC, word LIMIT 10),
            probes AS (SELECT t.word, t.cnt, u.i AS d,
                         (CAST('0x' || substr(md5(t.word), 1, 15) AS BIGINT)
                           >> (9 * u.i)) & 511 AS p
                       FROM top10 t, UNNEST(generate_series(0, 3)) AS u(i))
            SELECT pr.word, pr.cnt,
              CAST(MIN(m.c) AS BIGINT) AS cms_est,
              CAST(MIN(m.c) - pr.cnt AS BIGINT) AS overcount
            FROM probes pr JOIN merged m ON m.d = pr.d AND m.p = pr.p
            GROUP BY pr.word, pr.cnt ORDER BY pr.word"""))

  /** Equi-width-histogram quantile MERGE across data vintages — the
    * mergeable quantile summary (the fixed-bucket special case of the
    * mergeable-summaries family, Agarwal et al. 2012): per vintage a
    * 64-bucket histogram of order totalprice (integer cents over the
    * broadcast corpus span), the merged histogram = per-bucket SUM, and
    * p50/p90 estimated from the merged buckets (midpoint rule, pure
    * integer arithmetic) beside the EXACT type-1 quantile of the same
    * rows and the error in ppm — the measured accuracy of the summary
    * whose union re-scan it avoids. The vintage split is the
    * q_hll_merge date-half split.
    *
    * Scale posture: each histogram is one partial+final COUNT into ≤ 64
    * rows; the merge is a 64-row SUM; the exact arm (the accuracy
    * yardstick) is the only corpus-width aggregation, and it is a
    * distinct-cents rollup + a DISTRIBUTED prefix sum under the total
    * (vintage, cents) order ([[graft.functions.Prefix]] — range
    * repartition, per-partition sums, broadcast offsets), never a
    * global sort of raw rows and never a vintage-partitioned window
    * (which would funnel each vintage's distinct cents through one
    * task).
    */
  private val quantileMerge = Q(
    "q_quantile_merge",
    (spark, dir) => {
      val o = Tables(spark, dir, "orders")
      val spanD = broadcast(o.agg(
        min(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("minc"),
        max(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("maxc"),
        min(col("o_orderdate")).as("dmin"), max(col("o_orderdate")).as("dmax")))
      val rows = graft.Caches.persisted(
        o.crossJoin(spanD)
          .select(
            when(datediff(col("o_orderdate"), col("dmin")) * 2 <=
              datediff(col("dmax"), col("dmin")), lit("base")).otherwise(lit("delta"))
              .as("vintage"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
            col("minc"), (col("maxc") - col("minc") + 1).as("span"))
          .select(col("vintage"), col("cents"), col("minc"), col("span"),
            expr("((cents - minc) * 64) div span").cast("int").as("b")))
      val vhist = graft.Caches.persisted(
        rows.groupBy(col("vintage"), col("b"), col("minc"), col("span"))
          .agg(count(lit(1)).as("c")))
      val mhist = vhist.groupBy(col("b"), col("minc"), col("span"))
        .agg(sum(col("c")).as("c")).withColumn("vintage", lit("merged"))
      val hists = vhist.select(col("vintage"), col("b"), col("minc"), col("span"), col("c"))
        .unionAll(mhist.select(col("vintage"), col("b"), col("minc"), col("span"), col("c")))
      // per-vintage totals (3 rows) and the totals of order-prior
      // vintages — shared by BOTH cumulative arms below so neither
      // needs a vintage-partitioned window (VERDICT r11 task 6): the
      // histogram totals per vintage equal the row totals per vintage
      // (each row lands in exactly one bucket)
      val vtot = graft.Caches.persisted(
        hists.groupBy(col("vintage")).agg(sum(col("c")).as("n")))
      val vtotB = vtot.select(col("vintage").as("bv"), col("n").as("bn"))
      val prior = broadcast(
        vtot.join(broadcast(vtotB), col("bv") < col("vintage"), "left")
          .groupBy(col("vintage"), col("n"))
          .agg(coalesce(sum(col("bn")), lit(0L)).as("prior")))
      // running bucket counts via the distributed prefix sum under the
      // total (vintage, b) order — vintages are contiguous under it, so
      // the per-vintage running count is the global one minus the prior
      // vintages' totals
      val cum = graft.functions.Prefix.withRunningTotals(
          hists, Seq(col("vintage"), col("b")), Seq("c"))
        .join(prior, Seq("vintage"))
        .withColumn("cumc", col("c_cum") - col("prior"))
      // BOTH percentiles from ONE conditional aggregate + stack (r17,
      // guide §1.2: the old per-p unionAll re-executed the whole
      // prefix-sum subtree once per percentile — min(b | cumc ≥ t(p))
      // is the same selection as filter-then-min, branch-free)
      val est = cum.groupBy(col("vintage")).agg(
          first(col("minc")).as("minc"), first(col("span")).as("span"),
          first(col("n")).as("n"),
          min(when(col("cumc") >= expr("(n * 50 + 99) div 100"), col("b"))).as("b50"),
          min(when(col("cumc") >= expr("(n * 90 + 99) div 100"), col("b"))).as("b90"))
        .selectExpr("vintage", "n", "minc", "span",
          "stack(2, 50, b50, 90, b90) AS (p, bsel)")
        .select(col("vintage"), col("p"), col("n"),
          (col("minc") + expr("((2 * bsel + 1) * span) div 128")).as("est_cents"))
      // exact type-1 quantile per part, via distinct-cents cumulative
      // counts — the same distributed-prefix-sum shape under the total
      // (vintage, cents) order, reusing the shared per-vintage totals
      // (NOT a vintage-partitioned window, which would funnel every
      // distinct cent of a vintage through one task — VERDICT r11 task
      // 6; the q_pareto_share/q_seq_pack posture, now modeled by the
      // yardstick it grades).
      val parts = rows.select(col("vintage"), col("cents"))
        .unionAll(rows.select(lit("merged").as("vintage"), col("cents")))
      val vcCounts = parts.groupBy(col("vintage"), col("cents")).agg(count(lit(1)).as("c"))
      val vc = graft.functions.Prefix.withRunningTotals(
          vcCounts, Seq(col("vintage"), col("cents")), Seq("c"))
        .join(prior, Seq("vintage"))
        .select(col("vintage"), col("cents"),
          (col("c_cum") - col("prior")).as("cumc"), col("n"))
      val exact = vc.groupBy(col("vintage")).agg(
          min(when(col("cumc") >= expr("(n * 50 + 99) div 100"), col("cents"))).as("e50"),
          min(when(col("cumc") >= expr("(n * 90 + 99) div 100"), col("cents"))).as("e90"))
        .selectExpr("vintage", "stack(2, 50, e50, 90, e90) AS (p, exact_cents)")
      est.join(exact, Seq("vintage", "p"))
        .select(col("vintage").as("part"), col("p").cast("int").as("p"),
          col("n").cast("bigint").as("n"),
          col("est_cents").cast("bigint").as("est_cents"),
          col("exact_cents").cast("bigint").as("exact_cents"),
          when(col("exact_cents") === 0, lit(null).cast("long"))
            .otherwise(expr("abs(est_cents - exact_cents) * 1000000 div exact_cents"))
            .as("err_ppm"))
        .orderBy(col("part"), col("p"))
    },
    Some("""WITH span AS (SELECT MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS minc,
                            MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS maxc,
                            MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
                          FROM orders),
            rows_ AS (SELECT CASE WHEN (CAST(o_orderdate AS DATE) - CAST(span.dmin AS DATE)) * 2 <=
                                       (CAST(span.dmax AS DATE) - CAST(span.dmin AS DATE))
                                  THEN 'base' ELSE 'delta' END AS vintage,
                        CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                        span.minc AS minc, span.maxc - span.minc + 1 AS span
                      FROM orders, span),
            bucketed AS (SELECT vintage, cents, minc, span,
                           ((cents - minc) * 64) // span AS b
                         FROM rows_),
            vhist AS (SELECT vintage, b, minc, span, CAST(COUNT(*) AS BIGINT) AS c
                      FROM bucketed GROUP BY vintage, b, minc, span),
            hists AS (SELECT * FROM vhist
                      UNION ALL
                      SELECT 'merged', b, minc, span, SUM(c) FROM vhist
                      GROUP BY b, minc, span),
            cum AS (SELECT vintage, b, minc, span, c,
                      SUM(c) OVER (PARTITION BY vintage ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
                      SUM(c) OVER (PARTITION BY vintage) AS n
                    FROM hists),
            est AS (SELECT vintage, 50 AS p, MAX(n) AS n,
                      MIN(minc) + ((2 * MIN(b) + 1) * MIN(span)) // 128 AS est_cents
                    FROM cum WHERE cumc >= (n * 50 + 99) // 100 GROUP BY vintage
                    UNION ALL
                    SELECT vintage, 90, MAX(n),
                      MIN(minc) + ((2 * MIN(b) + 1) * MIN(span)) // 128
                    FROM cum WHERE cumc >= (n * 90 + 99) // 100 GROUP BY vintage),
            parts AS (SELECT vintage, cents FROM bucketed
                      UNION ALL SELECT 'merged', cents FROM bucketed),
            vc AS (SELECT vintage, cents, CAST(COUNT(*) AS BIGINT) AS c
                   FROM parts GROUP BY vintage, cents),
            vcum AS (SELECT vintage, cents,
                       SUM(c) OVER (PARTITION BY vintage ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
                       SUM(c) OVER (PARTITION BY vintage) AS n
                     FROM vc),
            exact AS (SELECT vintage, 50 AS p, MIN(cents) AS exact_cents
                      FROM vcum WHERE cumc >= (n * 50 + 99) // 100 GROUP BY vintage
                      UNION ALL
                      SELECT vintage, 90, MIN(cents)
                      FROM vcum WHERE cumc >= (n * 90 + 99) // 100 GROUP BY vintage)
            SELECT e.vintage AS part, CAST(e.p AS INT) AS p,
              CAST(e.n AS BIGINT) AS n,
              CAST(e.est_cents AS BIGINT) AS est_cents,
              CAST(x.exact_cents AS BIGINT) AS exact_cents,
              CASE WHEN x.exact_cents = 0 THEN NULL
                   ELSE CAST(ABS(e.est_cents - x.exact_cents) * 1000000
                     // x.exact_cents AS BIGINT)
              END AS err_ppm
            FROM est e JOIN exact x ON x.vintage = e.vintage AND x.p = e.p
            ORDER BY part, p"""))

  /** Weighted corpus sampling by sequential Poisson priorities (Ohlsson
    * 1998) — length-proportional document sampling, the training-data
    * mix primitive ("sample documents proportional to token mass"), in
    * the same MERGEABLE bottom-k frame as q_bottomk_sample: priority
    * ξ = hash60(doc_id) / weight (one exact IEEE division both engines
    * round identically), each vintage keeps its 16 smallest-ξ docs, the
    * merged sample is the bottom-16 OF THE TWO SAMPLES, and the direct
    * full-corpus bottom-16 is reported beside it — identical by the
    * bottom-k property, so a standing weighted sample updates from a
    * delta without re-scanning the corpus. Weight = greatest(1,
    * char length); the sample's hash fingerprint is emitted as two
    * exact int64 splits sum_h_hi = Σ(h div 2²⁰) and sum_h_lo =
    * Σ(h mod 2²⁰) — both stay below 2⁴⁴ at k = 16, inside the 2⁵³
    * float64-exact window the round-12 output contract requires
    * (decimal(38,0) cells above 2⁵³ hash-diverge in the driver's
    * checker even when exactly equal).
    *
    * Scale posture: per vintage one TakeOrdered(16) head; the merge
    * ranks 32 driver-free rows.
    */
  private val weightedSample = Q(
    "q_weighted_sample",
    (spark, dir) => {
      val keyed = graft.Caches.persisted(
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 10 === 0).as("isdelta"),
            greatest(lit(1L), length(col("text")).cast("long")).as("w"),
            Portable.hash60(col("doc_id").cast("string")).as("h"))
          .select(col("doc_id"), col("isdelta"), col("w"), col("h"),
            (col("h").cast("double") / col("w").cast("double")).as("xi")))
      def bottom(rel: DataFrame): DataFrame =
        rel.orderBy(col("xi"), col("doc_id")).limit(16)
      val base16 = bottom(keyed.filter(!col("isdelta")))
      val delta16 = bottom(keyed.filter(col("isdelta")))
      val merged16 = bottom(base16.unionAll(delta16))
      val direct16 = bottom(keyed)
      def report(sample: DataFrame, src: DataFrame, part: String): DataFrame =
        sample.agg(count(lit(1)).cast("bigint").as("k_rows"),
            coalesce(sum(col("doc_id")), lit(0L)).cast("bigint").as("sum_ids"),
            coalesce(sum(col("w")), lit(0L)).cast("bigint").as("sum_w"),
            coalesce(sum(expr("h div 1048576")), lit(0L)).cast("bigint").as("sum_h_hi"),
            coalesce(sum(expr("h % 1048576")), lit(0L)).cast("bigint").as("sum_h_lo"))
          .crossJoin(src.agg(count(lit(1)).cast("bigint").as("n_in")))
          .select(lit(part).as("part"), col("n_in"), col("k_rows"),
            col("sum_ids"), col("sum_w"), col("sum_h_hi"), col("sum_h_lo"))
      report(base16, keyed.filter(!col("isdelta")), "base")
        .unionAll(report(delta16, keyed.filter(col("isdelta")), "delta"))
        .unionAll(report(merged16, keyed, "merged"))
        .unionAll(report(direct16, keyed, "direct"))
        .orderBy(col("part"))
    },
    Some("""WITH keyed AS (SELECT doc_id, doc_id % 10 = 0 AS isdelta,
                             GREATEST(1, length(text)) AS w,
                             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) AS h
                           FROM documents),
            xs AS (SELECT doc_id, isdelta, w, h,
                     CAST(h AS DOUBLE) / CAST(w AS DOUBLE) AS xi
                   FROM keyed),
            b16 AS (SELECT * FROM xs WHERE NOT isdelta ORDER BY xi, doc_id LIMIT 16),
            d16 AS (SELECT * FROM xs WHERE isdelta ORDER BY xi, doc_id LIMIT 16),
            m16 AS (SELECT * FROM (SELECT * FROM b16 UNION ALL SELECT * FROM d16)
                    ORDER BY xi, doc_id LIMIT 16),
            f16 AS (SELECT * FROM xs ORDER BY xi, doc_id LIMIT 16),
            rep AS (
              SELECT 'base' AS part,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM xs WHERE NOT isdelta) AS n_in,
                CAST(COUNT(*) AS BIGINT) AS k_rows,
                CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids,
                CAST(COALESCE(SUM(w), 0) AS BIGINT) AS sum_w,
                CAST(COALESCE(SUM(h // 1048576), 0) AS BIGINT) AS sum_h_hi,
                CAST(COALESCE(SUM(h % 1048576), 0) AS BIGINT) AS sum_h_lo
              FROM b16
              UNION ALL
              SELECT 'delta',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM xs WHERE isdelta),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(SUM(w), 0) AS BIGINT),
                CAST(COALESCE(SUM(h // 1048576), 0) AS BIGINT),
                CAST(COALESCE(SUM(h % 1048576), 0) AS BIGINT)
              FROM d16
              UNION ALL
              SELECT 'merged', (SELECT CAST(COUNT(*) AS BIGINT) FROM xs),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(SUM(w), 0) AS BIGINT),
                CAST(COALESCE(SUM(h // 1048576), 0) AS BIGINT),
                CAST(COALESCE(SUM(h % 1048576), 0) AS BIGINT)
              FROM m16
              UNION ALL
              SELECT 'direct', (SELECT CAST(COUNT(*) AS BIGINT) FROM xs),
                CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
                CAST(COALESCE(SUM(w), 0) AS BIGINT),
                CAST(COALESCE(SUM(h // 1048576), 0) AS BIGINT),
                CAST(COALESCE(SUM(h % 1048576), 0) AS BIGINT)
              FROM f16)
            SELECT part, n_in, k_rows, sum_ids, sum_w, sum_h_hi, sum_h_lo FROM rep ORDER BY part"""))

  /** KMV/theta sketch SET OPERATIONS across data vintages (the
    * k-minimum-values estimator, Bar-Yossef et al. 2002; theta-sketch
    * framing Dasgupta et al.) — the capability q_hll_merge's union-only
    * registers lack: an INTERSECTION estimate (customers active in both
    * vintages) from the same mergeable bottom-k samples
    * q_bottomk_sample proved exact. Per vintage the bottom-128 distinct
    * key hashes; union = bottom-128 of the sample union; intersection =
    * common sample hashes below θ = min(θ_a, θ_b), scaled by 2⁶⁰/θ.
    * A sketch holding fewer than k values IS the exact distinct set
    * (θ = 2⁶⁰), so small vintages degrade to exact — the standard KMV
    * contract. Per part: estimate, exact distinct, error ppm.
    *
    * Portability: estimators are exact integer division of exact
    * products — (k−1)·2⁶⁰ and c·2⁶⁰ run in decimal(38,0) (DuckDB
    * HUGEINT; 127·2⁶⁰ ≈ 1.5·10²⁰ wraps bigint) — no float ever compares
    * or divides. Scale posture: per vintage one TakeOrdered(128) over
    * the distinct-key aggregate; every later step ranks ≤ 256 rows.
    */
  private val thetaSketch = Q(
    "q_theta_sketch",
    (spark, dir) => {
      val (keyed, sa, sb) = bottomKSamples(spark, dir)
      val pow = lit(1152921504606846976L) // 2^60
      // θ per side: the max sampled hash if the sketch is FULL, else 2^60
      def theta(s: DataFrame): DataFrame =
        s.agg(count(lit(1)).as("n"), coalesce(max(col("h")), pow).as("mx"))
          .select(col("n"), when(col("n") < 128, pow).otherwise(col("mx")).as("th"))
      val ta = theta(sa); val tb = theta(sb)
      // union sample: bottom-128 of the distinct union of the two samples
      val su = sa.unionAll(sb).distinct().orderBy(col("h")).limit(128)
      val tu = theta(su)
      // intersection candidates: common hashes strictly below min(θa, θb)
      val thAB = ta.select(col("th").as("tha"))
        .crossJoin(tb.select(col("th").as("thb")))
        .select(least(col("tha"), col("thb")).as("thi"))
      val common = sa.join(sb.select(col("h").as("hb")), col("h") === col("hb"))
        .crossJoin(broadcast(thAB))
        .filter(col("h") < col("thi"))
        .agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(thAB))
        .select(col("c"), col("thi"))
      val exacts = keyed.groupBy(col("vintage"))
        .agg(countDistinct(col("k")).cast("bigint").as("exact"))
        .select(col("vintage").as("part"), col("exact"))
        .unionAll(keyed.agg(countDistinct(col("k")).cast("bigint").as("exact"))
          .select(lit("union").as("part"), col("exact")))
        .unionAll(
          keyed.filter(col("vintage") === "base").select(col("k")).distinct()
            .join(keyed.filter(col("vintage") === "delta").select(col("k").as("k2"))
              .distinct(), col("k") === col("k2"))
            .agg(count(lit(1)).cast("bigint").as("exact"))
            .select(lit("intersection").as("part"), col("exact")))
      val ests =
        ta.select(lit("base").as("part"),
            when(col("n") < 128, col("n")).otherwise(
              expr("cast(127 as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0)) div th"))
              .cast("long").as("est"))
          .unionAll(tb.select(lit("delta").as("part"),
            when(col("n") < 128, col("n")).otherwise(
              expr("cast(127 as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0)) div th"))
              .cast("long").as("est")))
          .unionAll(tu.select(lit("union").as("part"),
            when(col("n") < 128, col("n")).otherwise(
              expr("cast(127 as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0)) div th"))
              .cast("long").as("est")))
          .unionAll(common.select(lit("intersection").as("part"),
            when(col("thi") === 1152921504606846976L, col("c")).otherwise(
              expr("cast(c as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0)) div thi"))
              .cast("long").as("est")))
      val spine = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("base"), org.apache.spark.sql.Row("delta"),
          org.apache.spark.sql.Row("union"), org.apache.spark.sql.Row("intersection")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("part",
            org.apache.spark.sql.types.StringType))))
      spine.join(ests, Seq("part"), "left")
        .join(exacts, Seq("part"), "left")
        .select(col("part"),
          coalesce(col("est"), lit(0L)).as("est"),
          coalesce(col("exact"), lit(0L)).as("exact"))
        .select(col("part"), col("est"), col("exact"),
          when(col("exact") === 0, lit(null).cast("long"))
            .otherwise(expr("abs(est - exact) * 1000000 div exact")).as("err_ppm"))
        .orderBy(col("part"))
    },
    Some(s"""WITH $bottomKCtes,
             su AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
                    ORDER BY h LIMIT 128),
             ta AS (SELECT COUNT(*) AS n,
                      CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
                           ELSE COALESCE(MAX(h), 1152921504606846976) END AS th
                    FROM sa),
             tb AS (SELECT COUNT(*) AS n,
                      CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
                           ELSE COALESCE(MAX(h), 1152921504606846976) END AS th
                    FROM sb),
             tu AS (SELECT COUNT(*) AS n,
                      CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
                           ELSE COALESCE(MAX(h), 1152921504606846976) END AS th
                    FROM su),
             thi AS (SELECT LEAST(ta.th, tb.th) AS thi FROM ta, tb),
             common AS (SELECT COUNT(*) AS c FROM sa JOIN sb ON sa.h = sb.h, thi
                        WHERE sa.h < thi.thi),
             ests AS (
               SELECT 'base' AS part,
                 CAST(CASE WHEN ta.n < 128 THEN ta.n
                      ELSE (CAST(127 AS HUGEINT) * 1152921504606846976) // ta.th
                      END AS BIGINT) AS est FROM ta
               UNION ALL
               SELECT 'delta',
                 CAST(CASE WHEN tb.n < 128 THEN tb.n
                      ELSE (CAST(127 AS HUGEINT) * 1152921504606846976) // tb.th
                      END AS BIGINT) FROM tb
               UNION ALL
               SELECT 'union',
                 CAST(CASE WHEN tu.n < 128 THEN tu.n
                      ELSE (CAST(127 AS HUGEINT) * 1152921504606846976) // tu.th
                      END AS BIGINT) FROM tu
               UNION ALL
               SELECT 'intersection',
                 CAST(CASE WHEN thi.thi = 1152921504606846976 THEN common.c
                      ELSE (CAST(common.c AS HUGEINT) * 1152921504606846976) // thi.thi
                      END AS BIGINT) FROM common, thi),
             exacts AS (
               SELECT vintage AS part, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact
               FROM keyed GROUP BY vintage
               UNION ALL
               SELECT 'union', CAST(COUNT(DISTINCT k) AS BIGINT) FROM keyed
               UNION ALL
               SELECT 'intersection', CAST(COUNT(*) AS BIGINT) FROM
                 (SELECT DISTINCT k FROM keyed WHERE vintage = 'base') a
                 JOIN (SELECT DISTINCT k FROM keyed WHERE vintage = 'delta') b
                 ON a.k = b.k),
             spine AS (SELECT * FROM (VALUES ('base'), ('delta'), ('union'),
                                      ('intersection')) AS t(part))
             SELECT spine.part,
               COALESCE(e.est, 0) AS est,
               COALESCE(x.exact, 0) AS exact,
               CASE WHEN COALESCE(x.exact, 0) = 0 THEN NULL
                    ELSE CAST(ABS(COALESCE(e.est, 0) - x.exact) * 1000000
                      // x.exact AS BIGINT)
               END AS err_ppm
             FROM spine LEFT JOIN ests e ON e.part = spine.part
             LEFT JOIN exacts x ON x.part = spine.part
             ORDER BY spine.part"""))

  /** Theta-sketch A-NOT-B (set difference) across vintages — churn
    * measurement from the same KMV samples q_theta_sketch built:
    * customers active in the base half but NOT the delta half (churned)
    * and vice versa (new), estimated as the sample hashes below
    * θ = min(θ_a, θ_b) present on one side only, scaled by 2⁶⁰/θ — the
    * retention/churn numbers a corpus or user-base report needs nightly
    * WITHOUT a distinct-join re-scan. Same degrade-to-exact contract
    * and decimal(38,0) integer estimator as q_theta_sketch.
    *
    * Scale posture: two TakeOrdered(128) sample heads; the difference
    * and its exact yardstick anti-join run on ≤ 256-row / key-distinct
    * relations.
    */
  private val thetaDiff = Q(
    "q_theta_diff",
    (spark, dir) => {
      val (keyed, sa, sb) = bottomKSamples(spark, dir)
      val pow = lit(1152921504606846976L)
      def theta(s: DataFrame): DataFrame =
        s.agg(count(lit(1)).as("n"), coalesce(max(col("h")), pow).as("mx"))
          .select(when(col("n") < 128, pow).otherwise(col("mx")).as("th"))
      val thAB = broadcast(theta(sa).crossJoin(theta(sb).withColumnRenamed("th", "thb"))
        .select(least(col("th"), col("thb")).as("thi")))
      def oneSide(x: DataFrame, y: DataFrame, part: String): DataFrame =
        x.join(y.select(col("h").as("hy")), col("h") === col("hy"), "left_anti")
          .crossJoin(thAB)
          .filter(col("h") < col("thi"))
          .agg(count(lit(1)).as("c"))
          .crossJoin(thAB)
          .select(lit(part).as("part"),
            when(col("thi") === 1152921504606846976L, col("c")).otherwise(
              expr("cast(c as decimal(38,0)) * cast(1152921504606846976 as decimal(38,0)) div thi"))
              .cast("long").as("est"))
      val ests = oneSide(sa, sb, "churned").unionAll(oneSide(sb, sa, "new"))
      def exactDiff(v1: String, v2: String, part: String): DataFrame =
        keyed.filter(col("vintage") === v1).select(col("k")).distinct()
          .join(keyed.filter(col("vintage") === v2).select(col("k").as("k2"))
            .distinct(), col("k") === col("k2"), "left_anti")
          .agg(count(lit(1)).cast("bigint").as("exact"))
          .select(lit(part).as("part"), col("exact"))
      val exacts = exactDiff("base", "delta", "churned")
        .unionAll(exactDiff("delta", "base", "new"))
      ests.join(exacts, Seq("part"))
        .select(col("part"), col("est"), col("exact"),
          when(col("exact") === 0, lit(null).cast("long"))
            .otherwise(expr("abs(est - exact) * 1000000 div exact")).as("err_ppm"))
        .orderBy(col("part"))
    },
    Some(s"""WITH $bottomKCtes,
            ta AS (SELECT CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
                          ELSE COALESCE(MAX(h), 1152921504606846976) END AS th FROM sa),
            tb AS (SELECT CASE WHEN COUNT(*) < 128 THEN 1152921504606846976
                          ELSE COALESCE(MAX(h), 1152921504606846976) END AS th FROM sb),
            thi AS (SELECT LEAST(ta.th, tb.th) AS thi FROM ta, tb),
            ests AS (
              SELECT 'churned' AS part,
                CAST(CASE WHEN thi.thi = 1152921504606846976 THEN c
                     ELSE (CAST(c AS HUGEINT) * 1152921504606846976) // thi.thi
                     END AS BIGINT) AS est
              FROM (SELECT COUNT(*) AS c FROM sa, thi
                    WHERE sa.h < thi.thi
                      AND NOT EXISTS (SELECT 1 FROM sb WHERE sb.h = sa.h)), thi
              UNION ALL
              SELECT 'new',
                CAST(CASE WHEN thi.thi = 1152921504606846976 THEN c
                     ELSE (CAST(c AS HUGEINT) * 1152921504606846976) // thi.thi
                     END AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM sb, thi
                    WHERE sb.h < thi.thi
                      AND NOT EXISTS (SELECT 1 FROM sa WHERE sa.h = sb.h)), thi),
            exacts AS (
              SELECT 'churned' AS part, CAST(COUNT(*) AS BIGINT) AS exact
              FROM (SELECT DISTINCT k FROM keyed WHERE vintage = 'base') a
              WHERE NOT EXISTS (SELECT 1 FROM keyed b
                                WHERE b.vintage = 'delta' AND b.k = a.k)
              UNION ALL
              SELECT 'new', CAST(COUNT(*) AS BIGINT)
              FROM (SELECT DISTINCT k FROM keyed WHERE vintage = 'delta') a
              WHERE NOT EXISTS (SELECT 1 FROM keyed b
                                WHERE b.vintage = 'base' AND b.k = a.k))
            SELECT e.part, e.est, x.exact,
              CASE WHEN x.exact = 0 THEN NULL
                   ELSE CAST(ABS(e.est - x.exact) * 1000000 // x.exact AS BIGINT)
              END AS err_ppm
            FROM ests e JOIN exacts x ON x.part = e.part
            ORDER BY e.part"""))

  /** HLL register-count accuracy sweep — the m-tuning measurement that
    * sizes q_hll_merge's sketch in production (the q_lsh_band_sweep /
    * q_minhash_est_error pattern applied to distinct counting): the
    * SAME key stream sketched at m ∈ {64, 256, 1024} registers, each
    * the full Flajolet funnel (bucket = h mod m, rank from the
    * remaining 60−log₂m bits, exact-bigint Z, per-m α·m²·2^P literal,
    * small-range correction below 2.5m), reported as estimate vs exact
    * and error ppm per m — the standard-error ∝ 1.04/√m curve made
    * measurable. State is m rows per arm; all three arms share one
    * cached key pass.
    */
  private val hllPrecisionSweep = Q(
    "q_hll_precision_sweep",
    (spark, dir) => {
      val keyed = graft.Caches.persisted(
        Tables(spark, dir, "orders")
          .select(col("o_custkey").as("k"))
          .select(col("k"), Portable.hash60(col("k").cast("string")).as("h")))
      val exact = broadcast(keyed.agg(countDistinct(col("k")).cast("bigint").as("exact")))
      // (m, P = 61 - log2 m, C = α_m·m²·2^P, 2^P) — literals both engines parse
      val arms = Seq(
        (64, 55, 1.0462993238608057e20, 36028797018963968L),
        (256, 53, 4.2399330249068963e20, 9007199254740992L),
        (1024, 51, 1.7013287633207432e21, 2251799813685248L))
      arms.map { case (m, p, c, pow) =>
        val regs = keyed
          .select((col("h") % m).cast("int").as("j"), expr(s"h div $m").as("w"))
          .select(col("j"),
            when(col("w") === 0, lit(p))
              .otherwise(lit(p) - length(bin(col("w")))).cast("int").as("r"))
          .groupBy(col("j")).agg(max(col("r")).as("mr"))
        val est = regs.agg(count(lit(1)).as("nf"),
            coalesce(sum(expr(s"shiftleft(cast(1 as bigint), $p - mr)")), lit(0L)).as("zp"))
          .select((col("zp") + (lit(m.toLong) - col("nf")) * lit(pow)).as("z"),
            (lit(m.toLong) - col("nf")).as("v"))
          .select(
            when(lit(c) / col("z").cast("double") <= m * 2.5 && col("v") > 0,
              lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
              .otherwise(lit(c) / col("z").cast("double")).as("e"))
          .select(lit(m.toLong).as("m"),
            floor(col("e") + 0.5d).cast("long").as("hll_est"))
        est.crossJoin(exact)
      }.reduce(_ unionAll _)
        .select(col("m"), col("hll_est"), col("exact"),
          when(col("exact") === 0, lit(null).cast("long"))
            .otherwise(expr("abs(hll_est - exact) * 1000000 div exact")).as("err_ppm"))
        .orderBy(col("m"))
    },
    Some {
      val arms = Seq(
        (64, 55, "1.0462993238608057e20", 36028797018963968L),
        (256, 53, "4.2399330249068963e20", 9007199254740992L),
        (1024, 51, "1.7013287633207432e21", 2251799813685248L))
      val armSql = arms.map { case (m, p, c, pow) =>
        s"""SELECT CAST($m AS BIGINT) AS m,
              CAST(FLOOR(CASE WHEN CAST($c AS DOUBLE) / CAST(z AS DOUBLE) <= $m * 2.5
                               AND v > 0
                              THEN $m.0 * ln($m.0 / CAST(v AS DOUBLE))
                              ELSE CAST($c AS DOUBLE) / CAST(z AS DOUBLE)
                         END + 0.5) AS BIGINT) AS hll_est
            FROM (SELECT COALESCE(SUM(CAST(1 AS BIGINT) << ($p - mr)), 0)
                    + ($m - COUNT(*)) * $pow AS z,
                  $m - COUNT(*) AS v
                  FROM (SELECT CAST(h % $m AS INT) AS j,
                          MAX(CASE WHEN h // $m = 0 THEN $p
                               ELSE $p - length(bin(h // $m)) END) AS mr
                        FROM keyed GROUP BY 1))""" }.mkString("\nUNION ALL\n")
      s"""WITH keyed AS (SELECT o_custkey AS k,
                           CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                             AS BIGINT) AS h
                         FROM orders),
          exact AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS exact FROM keyed),
          ests AS ($armSql)
          SELECT m, hll_est, exact,
            CASE WHEN exact = 0 THEN NULL
                 ELSE CAST(ABS(hll_est - exact) * 1000000 // exact AS BIGINT)
            END AS err_ppm
          FROM ests, exact ORDER BY m"""
    })

  /** Bloom-filter geometry sweep — the m-bits tuning behind
    * q_bloom_incremental's single point: the same base/delta membership
    * probe at m ∈ {1024, 4096, 16384} bits (k = 4 hashes; the four
    * log₂m-bit positions carved from one hash60 — 4×14 = 56 ≤ 60 bits
    * even at the widest), reporting load, measured FPR in exact ppm,
    * and the analytic (1 − e^(−kn/m))^k in pround-6 ppm beside it —
    * the curve that picks bits-per-key in production. One positioned
    * pass per arm; the bit relations stay ≤ m rows and broadcast.
    */
  private val bloomFprSweep = Q(
    "q_bloom_fpr_sweep",
    (spark, dir) => {
      val docs = graft.Caches.persisted(
        Tables(spark, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("ch"))
          .select(col("doc_id"), col("ch"), Portable.hash60(col("ch")).as("hv")))
      Seq(1024L -> 10, 4096L -> 12, 16384L -> 14).map { case (m, bits) =>
        val positioned = docs.select(col("doc_id"), col("ch"),
          explode(array((0 until 4).map(i =>
            shiftright(col("hv"), bits * i).bitwiseAND(lit(m - 1))): _*)).as("bit"))
        val baseBits = positioned.filter(col("doc_id") % 10 =!= 0)
          .select(col("bit")).distinct()
        val nBase = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("ch")).distinct().agg(count(lit(1)).as("n_base"))
        // dedup (ch, bit) before the probe join; hit = all of the ch's
        // DISTINCT bits matched (the q_bloom_incremental ADVICE-r11 fix)
        val probed = positioned.filter(col("doc_id") % 10 === 0)
          .select(col("ch"), col("bit")).distinct()
          .join(broadcast(baseBits.select(col("bit").as("b"))),
            col("bit") === col("b"), "left")
          .groupBy(col("ch")).agg(count(col("b")).as("matched"),
            count(lit(1)).as("need"))
          .agg(count(lit(1)).cast("bigint").as("probes"),
            count_if(col("matched") === col("need")).cast("bigint").as("bloom_hits"))
        baseBits.agg(count(lit(1)).cast("bigint").as("bits_set"))
          .crossJoin(broadcast(nBase))
          .crossJoin(probed)
          .select(lit(m).as("m_bits"), col("n_base").cast("bigint").as("n_base"),
            col("bits_set"), col("probes"), col("bloom_hits"),
            when(col("probes") === 0, lit(null).cast("long"))
              .otherwise(expr("bloom_hits * 1000000 div probes")).as("fpr_ppm"),
            Portable.pround(
              pow(lit(1.0) - exp(lit(-4.0) * col("n_base").cast("double") /
                lit(m.toDouble)), 4.0) * 1e6, 1).as("analytic_ppm"))
      }.reduce(_ unionAll _).orderBy(col("m_bits"))
    },
    Some {
      val armSql = Seq(1024L -> 10, 4096L -> 12, 16384L -> 14).map { case (m, bits) =>
        s"""SELECT CAST($m AS BIGINT) AS m_bits,
              (SELECT CAST(COUNT(DISTINCT ch) AS BIGINT) FROM docs
               WHERE doc_id % 10 <> 0) AS n_base,
              (SELECT CAST(COUNT(DISTINCT (hv >> ($bits * i)) & ${m - 1}) AS BIGINT)
               FROM docs, UNNEST(generate_series(0, 3)) AS u(i)
               WHERE doc_id % 10 <> 0) AS bits_set,
              CAST(COUNT(*) AS BIGINT) AS probes,
              CAST(COUNT(*) FILTER (WHERE matched = need) AS BIGINT) AS bloom_hits
            FROM (SELECT p.ch, COUNT(b.bit) AS matched, COUNT(*) AS need
                  FROM (SELECT DISTINCT ch, (hv >> ($bits * i)) & ${m - 1} AS bit
                        FROM docs, UNNEST(generate_series(0, 3)) AS u(i)
                        WHERE doc_id % 10 = 0) p
                  LEFT JOIN (SELECT DISTINCT (hv >> ($bits * i)) & ${m - 1} AS bit
                             FROM docs, UNNEST(generate_series(0, 3)) AS u(i)
                             WHERE doc_id % 10 <> 0) b ON b.bit = p.bit
                  GROUP BY p.ch)""" }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (SELECT doc_id, md5(text) AS ch,
                          CAST('0x' || substr(md5(md5(text)), 1, 15) AS BIGINT) AS hv
                        FROM documents),
          arms AS ($armSql)
          SELECT m_bits, n_base, bits_set, probes, bloom_hits,
            CASE WHEN probes = 0 THEN NULL
                 ELSE CAST(bloom_hits * 1000000 // probes AS BIGINT) END AS fpr_ppm,
            FLOOR(POW(1.0 - EXP(-4.0 * CAST(n_base AS DOUBLE) / CAST(m_bits AS DOUBLE)), 4.0)
              * 1e6 * 10 + 0.5) / 10 AS analytic_ppm
          FROM arms ORDER BY m_bits"""
    })

  /** Count-Min width sweep — the ε-tuning behind q_cms_merge: the same
    * word stream sketched at widths {128, 512, 2048} (depth 4; 4 rows ×
    * 11 bits ≤ 44 of the 60 hash bits at the widest), reporting the
    * top-10 exact words' TOTAL and WORST overcount per width — the
    * ε = e/w error budget made measurable (every overcount is ≥ 0, the
    * one-sided guarantee; quartering the width should roughly quadruple
    * the collision mass). Counter state is ≤ 4·w rows per arm.
    */
  private val cmsWidthSweep = Q(
    "q_cms_width_sweep",
    (spark, dir) => {
      val words = graft.Caches.persisted(
        Tables.spreadIfUnderSplitAtScale(
            Tables(spark, dir, "documents").select(col("text")))
          .select(explode(graft.functions.TextOps.wordsNative(lower(col("text")))).as("word"))
          .select(col("word"), Portable.hash60(col("word")).as("hv")))
      val top10 = graft.Caches.persisted(
        words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word")).limit(10))
      Seq(128L -> 7, 512L -> 9, 2048L -> 11).map { case (w, bits) =>
        val sketch = words
          .select(posexplode(array((0 until 4).map(i =>
            shiftright(col("hv"), bits * i).bitwiseAND(lit(w - 1))): _*)))
          .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
          .groupBy(col("d"), col("p")).agg(count(lit(1)).as("c"))
        top10
          .select(col("word"), col("cnt"), Portable.hash60(col("word")).as("hv"))
          .select(col("word"), col("cnt"),
            posexplode(array((0 until 4).map(i =>
              shiftright(col("hv"), bits * i).bitwiseAND(lit(w - 1))): _*)))
          .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
          .join(broadcast(sketch), Seq("d", "p"))
          .groupBy(col("word"), col("cnt")).agg(min(col("c")).as("est"))
          .agg(sum(col("est") - col("cnt")).cast("bigint").as("sum_overcount"),
            max(col("est") - col("cnt")).cast("bigint").as("max_overcount"))
          .select(lit(w).as("width"),
            coalesce(col("sum_overcount"), lit(0L)).as("sum_overcount"),
            coalesce(col("max_overcount"), lit(0L)).as("max_overcount"))
      }.reduce(_ unionAll _).orderBy(col("width"))
    },
    Some {
      val armSql = Seq(128L -> 7, 512L -> 9, 2048L -> 11).map { case (w, bits) =>
        s"""SELECT CAST($w AS BIGINT) AS width,
              CAST(COALESCE(SUM(est - cnt), 0) AS BIGINT) AS sum_overcount,
              CAST(COALESCE(MAX(est - cnt), 0) AS BIGINT) AS max_overcount
            FROM (SELECT t.word, t.cnt, MIN(s.c) AS est
                  FROM (SELECT word, cnt, i AS d,
                          (hv >> ($bits * i)) & ${w - 1} AS p
                        FROM top10, UNNEST(generate_series(0, 3)) AS u(i)) t
                  JOIN (SELECT i AS d, (hv >> ($bits * i)) & ${w - 1} AS p,
                          CAST(COUNT(*) AS BIGINT) AS c
                        FROM words, UNNEST(generate_series(0, 3)) AS u(i)
                        GROUP BY 1, 2) s ON s.d = t.d AND s.p = t.p
                  GROUP BY t.word, t.cnt)""" }.mkString("\nUNION ALL\n")
      s"""WITH words AS (SELECT word,
                           CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
                         FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS word
                               FROM documents)
                         WHERE word <> ''),
          top10 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
                      CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
                    FROM words GROUP BY word, hv
                    ORDER BY cnt DESC, word LIMIT 10),
          arms AS ($armSql)
          SELECT width, sum_overcount, max_overcount FROM arms ORDER BY width"""
    })

  /** PERSISTED HLL register store + day-2 merge — the sketch twin of
    * q_dedup_incremental's signature store (VERDICT r11 task 4):
    * q_hll_merge proved registers MERGE; this query proves they
    * PERSIST AND GROW like a production standing estimate. Day 1: the
    * base corpus's 256 registers (o_orderkey ≡ 2..9 mod 10) write once
    * as an external table (vintage, j, m). Day 2: yesterday's delta
    * registers (≡ 1) APPEND via insertInto — ≤256 new rows, never a
    * rewrite; the grown store's sketch is the per-register MAX across
    * the stored rows (MAX is associative, so append-then-MAX IS the
    * merge). Today: the estimate reads ONLY the store plus today's
    * delta registers (≡ 0) — never the base keys — and the full
    * one-pass recompute runs beside it as the yardstick: the `today`
    * and `full` rows are IDENTICAL by the register-partition property
    * (max over per-vintage maxima = global max), the exactness claim
    * that makes a persisted sketch store safe.
    *
    * Per part (day1 = store's base rows, day2 = grown store, today =
    * store ⊕ today's registers, full = recompute): exact distinct
    * custkeys of the corresponding key set, HLL estimate (the
    * q_hll_merge funnel — exact-bigint Z, one shared α·m²·2⁵³
    * literal), err ppm.
    *
    * Scale posture: the store is ≤512 rows read by a 256-row MAX —
    * O(m) at any corpus size; today's arm scans only today's delta;
    * the full-recompute arm is the audit yardstick, the one
    * corpus-width pass (drop it in production and nothing else
    * changes).
    *
    * Deliberately NON-invertible: HLL registers are maxima — a key can
    * never be deleted from the store (q_store_delete's purge verb does
    * not apply here). q_theta_diff's KMV A-NOT-B sampling is the
    * documented escape hatch for deletion-aware distinct estimates.
    */
  /** HLL register relation of `rel`'s custkeys, vintage-stamped (the
    * q_hll_store store row shape: j, m, vintage — vintage last so the
    * positional insert lines up with the vintage-partitioned table).
    */
  private def hllRegsOf(rel: DataFrame, vintage: String): DataFrame =
    rel.select(Portable.hash60(col("o_custkey").cast("string")).as("h"))
      .select((col("h") % 256).cast("int").as("j"), expr("h div 256").as("w"))
      .select(col("j"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).cast("int").as("r"))
      .groupBy(col("j")).agg(max(col("r")).as("m"))
      .select(col("j"), col("m"), lit(vintage).as("vintage"))

  private[graft] def hllStoreTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = Stores(spark, dir, "hllstore").table("hll_store")

  /** The day-2 register append, re-runnable: a [[VintageWrite]] dynamic
    * overwrite of vintage=delta1 (append-twice ≡ append-once).
    */
  private[graft] def hllStoreAppendDelta1(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    VintageWrite(
      hllRegsOf(Tables(spark, dir, "orders").filter(col("o_orderkey") % 10 === 1),
        "delta1"),
      hllStoreTable(spark, dir))

  private val hllStore = Q(
    "q_hll_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "hllstore")
      val regT = hllStoreTable(spark, dir)
      val o = Tables(spark, dir, "orders")
      def regsOf(rel: DataFrame, vintage: String): DataFrame = hllRegsOf(rel, vintage)
      StoreOnce(ws.dir) {
        Stores.create(regsOf(o.filter(col("o_orderkey") % 10 >= 2), "base"),
          regT, ws.path("regs"), None, Stores.Vintage)
        // day-2 maintenance: yesterday's registers merge in as a
        // dynamic vintage-partition overwrite — idempotent under re-run
        hllStoreAppendDelta1(spark, dir)
      }
      val store = spark.table(regT)
      val todayRegs = regsOf(o.filter(col("o_orderkey") % 10 === 0), "today")
      def estimate(regRows: DataFrame, part: String): DataFrame =
        regRows.groupBy(col("j")).agg(max(col("m")).as("m"))
          .agg(count(lit(1)).as("nf"),
            coalesce(sum(expr("shiftleft(cast(1 as bigint), 53 - m)")), lit(0L)).as("zp"))
          .select(lit(part).as("part"),
            (col("zp") + (lit(256L) - col("nf")) * lit(Pow53)).as("z"),
            (lit(256L) - col("nf")).as("v"))
      def exact(rel: DataFrame, part: String): DataFrame =
        rel.agg(countDistinct(col("o_custkey")).cast("bigint").as("exact"))
          .select(lit(part).as("part"), col("exact"))
      val ests = estimate(store.filter(col("vintage") === "base"), "day1")
        .unionAll(estimate(store, "day2"))
        .unionAll(estimate(store.unionAll(todayRegs), "today"))
        .unionAll(estimate(regsOf(o, "full"), "full"))
      val exacts = exact(o.filter(col("o_orderkey") % 10 >= 2), "day1")
        .unionAll(exact(o.filter(col("o_orderkey") % 10 =!= 0), "day2"))
        .unionAll(exact(o, "today"))
        .unionAll(exact(o, "full"))
      hllReport(ests, exacts)
    },
    Some(s"""WITH keyed AS (SELECT o_orderkey % 10 AS g, o_custkey AS k,
                              CAST(h % 256 AS INT) AS j,
                              CASE WHEN h // 256 = 0 THEN 53
                                   ELSE 53 - length(bin(h // 256)) END AS r
                            FROM (SELECT o_orderkey, o_custkey,
                                    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                                      AS BIGINT) AS h
                                  FROM orders)),
             sreg AS (SELECT j, MAX(r) AS m FROM keyed WHERE g >= 2 GROUP BY j),
             d1reg AS (SELECT j, MAX(r) AS m FROM keyed WHERE g = 1 GROUP BY j),
             d0reg AS (SELECT j, MAX(r) AS m FROM keyed WHERE g = 0 GROUP BY j),
             u2 AS (SELECT j, m FROM sreg UNION ALL SELECT j, m FROM d1reg),
             u3 AS (SELECT j, m FROM u2 UNION ALL SELECT j, m FROM d0reg),
             armregs AS (
               SELECT 'day1' AS part, j, m FROM sreg
               UNION ALL
               SELECT 'day2' AS part, j, MAX(m) AS m FROM u2 GROUP BY j
               UNION ALL
               SELECT 'today' AS part, j, MAX(m) AS m FROM u3 GROUP BY j
               UNION ALL
               SELECT 'full' AS part, j, MAX(r) AS m FROM keyed GROUP BY j),
             pl AS (SELECT * FROM (VALUES ('day1'), ('day2'), ('today'), ('full')) AS t(part)),
             pr AS (SELECT part, COUNT(*) AS nf,
                      SUM(CAST(1 AS BIGINT) << (53 - m)) AS zp
                    FROM armregs GROUP BY part),
             $hllPartsCte,
             ex AS (SELECT pl.part, COALESCE(e.exact, 0) AS exact FROM pl
                    LEFT JOIN (SELECT 'day1' AS part,
                                 CAST(COUNT(DISTINCT k) AS BIGINT) AS exact
                               FROM keyed WHERE g >= 2
                               UNION ALL
                               SELECT 'day2', CAST(COUNT(DISTINCT k) AS BIGINT)
                               FROM keyed WHERE g <> 0
                               UNION ALL
                               SELECT 'today', CAST(COUNT(DISTINCT k) AS BIGINT)
                               FROM keyed
                               UNION ALL
                               SELECT 'full', CAST(COUNT(DISTINCT k) AS BIGINT)
                               FROM keyed) e ON e.part = pl.part),
             $hllReportSql"""))

  /** PERSISTED Count-Min counter store + day-2 merge — the frequency
    * twin of q_hll_store (VERDICT r11 task 4, CMS half): the base
    * corpus's depth-4 × width-512 word counters (doc_id ≡ 2..9 mod 10)
    * persist once as an external table (vintage, d, p, c); yesterday's
    * delta counters (≡ 1) APPEND via insertInto (≤2048 new rows, never
    * a rewrite — CMS merges by elementwise ADD, so append-then-SUM IS
    * the merge); today's estimate reads ONLY the store plus today's
    * counters (≡ 0). The global top-10 words probe BOTH the
    * store-served sketch and a full one-pass recompute side by side —
    * cms_stored and cms_full are IDENTICAL by count partitioning (sum
    * of per-vintage counts = global count), the exactness claim that
    * makes a persisted counter store safe. Overcount ≥ 0 always (the
    * one-sided CMS guarantee).
    *
    * Scale posture: the store is ≤3·2048 rows summed into ≤2048; the
    * probe joins 40 (depth, pos) keys against the broadcast sketch;
    * today's arm scans only today's delta. The full-recompute arm and
    * the exact top-10 census are the audit yardsticks — the only
    * corpus-width passes.
    */
  /** Per-(doc_id mod 10 group, word) relation of `documents` — the CMS
    * store family's shared input shape. */
  private def cmsWordsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      .select((col("doc_id") % 10).as("g"),
        explode(graft.functions.TextOps.wordsNative(lower(col("text")))).as("word"))

  /** Depth-4 × width-512 counter relation of a word set, vintage-stamped
    * (d, p, c, vintage — vintage last for the partitioned insert). */
  private def cmsCountersOf(rel: DataFrame, vintage: String): DataFrame =
    rel.select(Portable.hash60(col("word")).as("hv"))
      .select(posexplode(array((0 until 4).map(i =>
        shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
      .groupBy(col("d"), col("p")).agg(count(lit(1)).as("c"))
      .select(col("d"), col("p"), col("c"), lit(vintage).as("vintage"))

  private[graft] def cmsStoreTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = Stores(spark, dir, "cmsstore").table("cms_store")

  /** The day-2 counter append, re-runnable: a [[VintageWrite]] dynamic
    * overwrite of vintage=delta1 — the store whose double-append
    * corruption would be SILENT (SUM-merged), so restart safety matters
    * most here (append-twice ≡ append-once, property-tested).
    */
  private[graft] def cmsStoreAppendDelta1(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    VintageWrite(
      cmsCountersOf(cmsWordsOf(spark, dir).filter(col("g") === 1), "delta1"),
      cmsStoreTable(spark, dir))

  private val cmsStore = Q(
    "q_cms_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "cmsstore")
      val cT = cmsStoreTable(spark, dir)
      val words = graft.Caches.persisted(cmsWordsOf(spark, dir))
      def counters(rel: DataFrame, vintage: String): DataFrame =
        cmsCountersOf(rel, vintage)
      StoreOnce(ws.dir) {
        Stores.create(counters(words.filter(col("g") >= 2), "base"),
          cT, ws.path("counters"), None, Stores.Vintage)
        // day-2 maintenance: yesterday's counters merge in as a dynamic
        // vintage-partition overwrite — idempotent under re-run (a bare
        // append would silently double the SUM-merged counts)
        cmsStoreAppendDelta1(spark, dir)
      }
      val store = spark.table(cT)
      val stored = store.select(col("d"), col("p"), col("c"))
        .unionAll(counters(words.filter(col("g") === 0), "today")
          .select(col("d"), col("p"), col("c")))
        .groupBy(col("d"), col("p")).agg(sum(col("c")).as("c"))
      val full = counters(words, "full").select(col("d"), col("p"), col("c"))
      val probes = graft.Caches.persisted(
        words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word")).limit(10)
          .select(col("word"), col("cnt"), Portable.hash60(col("word")).as("hv"))
          .select(col("word"), col("cnt"),
            posexplode(array((0 until 4).map(i =>
              shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
          .withColumnRenamed("pos", "d").withColumnRenamed("col", "p"))
      def probeEst(counts: DataFrame, outName: String): DataFrame =
        probes.join(broadcast(counts), Seq("d", "p"))
          .groupBy(col("word"), col("cnt")).agg(min(col("c")).as(outName))
      probeEst(stored, "cms_stored")
        .join(probeEst(full, "cms_full"), Seq("word", "cnt"))
        .select(col("word"), col("cnt").cast("bigint").as("cnt"),
          col("cms_stored").cast("bigint").as("cms_stored"),
          col("cms_full").cast("bigint").as("cms_full"),
          (col("cms_stored") - col("cnt")).cast("bigint").as("overcount"))
        .orderBy(col("word"))
    },
    Some("""WITH words AS (SELECT doc_id % 10 AS g, word
                           FROM (SELECT doc_id,
                                   UNNEST(string_split(lower(text), ' ')) AS word
                                 FROM documents)
                           WHERE word <> ''),
            positioned AS (SELECT g, i AS d,
                             (CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
                               >> (9 * i)) & 511 AS p
                           FROM words, UNNEST(generate_series(0, 3)) AS u(i)),
            vc AS (SELECT CASE WHEN g >= 2 THEN 'base'
                               WHEN g = 1 THEN 'delta1' ELSE 'today' END AS vintage,
                     d, p, CAST(COUNT(*) AS BIGINT) AS c
                   FROM positioned GROUP BY 1, 2, 3),
            stored AS (SELECT d, p, SUM(c) AS c FROM vc GROUP BY d, p),
            fullc AS (SELECT d, p, CAST(COUNT(*) AS BIGINT) AS c
                      FROM positioned GROUP BY d, p),
            top10 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM words GROUP BY word
                      ORDER BY cnt DESC, word LIMIT 10),
            probes AS (SELECT t.word, t.cnt, u.i AS d,
                         (CAST('0x' || substr(md5(t.word), 1, 15) AS BIGINT)
                           >> (9 * u.i)) & 511 AS p
                       FROM top10 t, UNNEST(generate_series(0, 3)) AS u(i)),
            es AS (SELECT pr.word, pr.cnt, CAST(MIN(s.c) AS BIGINT) AS cms_stored
                   FROM probes pr JOIN stored s ON s.d = pr.d AND s.p = pr.p
                   GROUP BY pr.word, pr.cnt),
            ef AS (SELECT pr.word, pr.cnt, CAST(MIN(f.c) AS BIGINT) AS cms_full
                   FROM probes pr JOIN fullc f ON f.d = pr.d AND f.p = pr.p
                   GROUP BY pr.word, pr.cnt)
            SELECT es.word, es.cnt, es.cms_stored, ef.cms_full,
              CAST(es.cms_stored - es.cnt AS BIGINT) AS overcount
            FROM es JOIN ef ON ef.word = es.word
            ORDER BY es.word"""))

  /** PERSISTED Bloom-filter bit store + day-2 merge — the membership
    * member of the store family (q_hll_store / q_cms_store / the
    * q_dedup_incremental signature stores): Bloom filters merge by bit
    * UNION (bits(A ∪ B) = bits(A) ∪ bits(B)), so the store is the
    * distinct 12-bit positions set by the base corpus (doc_id ≡ 2..9
    * mod 10, 4096-bit/4-hash geometry — the q_bloom_incremental
    * funnel), persisted once; yesterday's bit set (≡ 1) APPENDS via
    * insertInto (≤m rows; duplicate positions across vintages are
    * deduped on read — union semantics, never a rewrite). Today's
    * probes (≡ 0) test the GROWN filter with the deduped
    * (ch, bit)/matched-vs-need discipline. bits_day1 vs bits_set makes
    * the append visible in the output; true-dup attribution uses the
    * grown key set (base ∪ delta1), so a probe duplicating yesterday's
    * doc counts as a true hit — which only happens if the appended
    * rows are read.
    *
    * Scale posture: the store is ≤m distinct integers; append is one
    * positioned pass over yesterday's delta; probes join the broadcast
    * grown bit set — O(m) state at any corpus size.
    *
    * Deliberately NON-invertible: Bloom bits are unions — clearing a
    * key's bits would evict every other key sharing them, so the store
    * cannot forget (q_store_delete's purge verb does not apply; a
    * counting filter or q_theta_diff's A-NOT-B sampling are the
    * deletion-aware alternatives).
    */
  /** (doc_id, content-hash, bit) relation of `documents` under the
    * 4096-bit/4-hash geometry — the Bloom store family's shared input. */
  private def bloomPositionedOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("ch"))
    val hv = Portable.hash60(col("ch"))
    docs.select(col("doc_id"), col("ch"), hv.as("hv"))
      .select(col("doc_id"), col("ch"),
        explode(array((0 until 4).map(i =>
          shiftright(col("hv"), 12 * i).bitwiseAND(lit(4095L))): _*)).as("bit"))
  }

  private[graft] def bloomStoreTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = Stores(spark, dir, "bloomstore").table("bloom_store")

  /** The day-2 bit-set append, re-runnable: a [[VintageWrite]] dynamic
    * overwrite of vintage=delta1 (append-twice ≡ append-once).
    */
  private[graft] def bloomStoreAppendDelta1(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    VintageWrite(
      bloomPositionedOf(spark, dir).filter(col("doc_id") % 10 === 1)
        .select(col("bit"), lit("delta1").as("vintage")).distinct(),
      bloomStoreTable(spark, dir))

  private val bloomStore = Q(
    "q_bloom_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "bloomstore")
      val bT = bloomStoreTable(spark, dir)
      val positioned = graft.Caches.persisted(bloomPositionedOf(spark, dir))
      StoreOnce(ws.dir) {
        Stores.create(positioned.filter(col("doc_id") % 10 >= 2)
            .select(col("bit"), lit("base").as("vintage")).distinct(),
          bT, ws.path("bits"), None, Stores.Vintage)
        // day-2 maintenance: yesterday's bit set unions in as a dynamic
        // vintage-partition overwrite — idempotent under re-run
        bloomStoreAppendDelta1(spark, dir)
      }
      val store = spark.table(bT)
      val grownBits = graft.Caches.persisted(store.select(col("bit")).distinct())
      val grownHashes = positioned.filter(col("doc_id") % 10 =!= 0)
        .select(col("ch")).distinct()
      val counts = bloomProbeCounts(positioned, grownBits, grownHashes)
      val geom = store.filter(col("vintage") === "base")
        .agg(count(lit(1)).cast("bigint").as("bits_day1"))
        .crossJoin(grownBits.agg(count(lit(1)).cast("bigint").as("bits_set")))
        .crossJoin(grownHashes.agg(count(lit(1)).cast("bigint").as("n_keys")))
      geom.crossJoin(counts)
        .select(lit(4096L).as("m_bits"), lit(4L).as("k_hashes"),
          col("n_keys"), col("bits_day1"), col("bits_set"), col("probes"),
          col("bloom_hits"), col("true_dups"), col("false_pos"),
          when(col("probes") - col("true_dups") === 0, lit(null).cast("long"))
            .otherwise(expr("false_pos * 1000000 div (probes - true_dups)"))
            .as("fpr_ppm"))
    },
    Some(s"""WITH $positionedCtes,
            basebits AS (SELECT DISTINCT bit FROM positioned WHERE doc_id % 10 >= 2),
            d1bits AS (SELECT DISTINCT bit FROM positioned WHERE doc_id % 10 = 1),
            grownbits AS (SELECT DISTINCT bit FROM
              (SELECT bit FROM basebits UNION ALL SELECT bit FROM d1bits)),
            grownhashes AS (SELECT DISTINCT ch FROM positioned WHERE doc_id % 10 <> 0),
            ${bloomProbeCtes("grownbits", "grownhashes", "gh")},
            geom AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM basebits) AS bits_day1,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM grownbits) AS bits_set,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM grownhashes) AS n_keys)
            SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
              n_keys, bits_day1, bits_set, probes, bloom_hits, true_dups, false_pos,
              CASE WHEN probes - true_dups = 0 THEN NULL
                   ELSE CAST(false_pos * 1000000 // (probes - true_dups) AS BIGINT)
              END AS fpr_ppm
            FROM geom CROSS JOIN counts"""))

  /** PERSISTED quantile-histogram store + day-2 merge — the fourth and
    * last member of the mergeable-store family (HLL merges by MAX, CMS
    * by SUM, Bloom by UNION; the fixed-bucket histogram merges by
    * per-bucket SUM): the base corpus's 64-bucket totalprice-cents
    * histogram (o_orderkey ≡ 2..9 mod 10) persists once as (vintage, b,
    * c); yesterday's histogram (≡ 1) APPENDS via insertInto; today's
    * p50/p90 estimates read ONLY the store plus today's buckets (≡ 0),
    * with a full recompute beside them — `today` and `full` rows are
    * IDENTICAL by count partitioning, the exactness claim. The bucket
    * GRID IS FIXED AT INGEST (span from the BASE corpus's min/max;
    * re-deriving the span per delta would re-bucket the store = a
    * rebuild); values outside the ingest span clamp into the boundary
    * buckets on both engines — the standard fixed-grid posture, and why
    * the estimate is a summary, not the exact arm q_quantile_merge
    * audits.
    *
    * Scale posture: the store is ≤64 rows per vintage; the cumulative
    * runs as a ≤64×64 bounded self-join per arm (domain-bounded by the
    * grid, never corpus-width — no window, no Prefix pass needed);
    * today's arm scans only today's delta, the full arm is the audit
    * yardstick.
    */
  /** (o_orderkey, exact integer cents) of `orders` — the quantile store
    * family's shared input. */
  private def quantileCentsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))

  /** The ingest-time grid: span from the BASE corpus only (re-deriving
    * the span per delta would re-bucket the store = a rebuild). */
  private def quantileSpanOf(o: DataFrame): DataFrame =
    broadcast(o.filter(col("o_orderkey") % 10 >= 2)
      .agg(coalesce(min(col("cents")), lit(0L)).as("minc"),
        (coalesce(max(col("cents")), lit(0L)) -
          coalesce(min(col("cents")), lit(0L)) + 1L).as("span")))

  /** 64-bucket histogram of `rel` over the ingest grid, vintage-stamped
    * (b, c, vintage — vintage last for the partitioned insert). */
  private def quantileHistOf(rel: DataFrame, spanD: DataFrame,
      vintage: String): DataFrame =
    rel.crossJoin(spanD)
      .select(greatest(lit(0L), least(lit(63L),
        expr("((cents - minc) * 64) div span"))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .select(col("b"), col("c"), lit(vintage).as("vintage"))

  private[graft] def quantileStoreTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = Stores(spark, dir, "qstore").table("quantile_store")

  /** The day-2 histogram append, re-runnable: a [[VintageWrite]] dynamic
    * overwrite of vintage=delta1 — like the CMS store, a SUM-merged
    * relation whose double-append corruption would be silent.
    */
  private[graft] def quantileStoreAppendDelta1(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val o = quantileCentsOf(spark, dir)
    VintageWrite(
      quantileHistOf(o.filter(col("o_orderkey") % 10 === 1),
        quantileSpanOf(o), "delta1"),
      quantileStoreTable(spark, dir))
  }

  private val quantileStore = Q(
    "q_quantile_store",
    (spark, dir) => {
      val ws = Stores(spark, dir, "qstore")
      val hT = quantileStoreTable(spark, dir)
      val o = quantileCentsOf(spark, dir)
      val spanD = quantileSpanOf(o)
      def histOf(rel: DataFrame, vintage: String): DataFrame =
        quantileHistOf(rel, spanD, vintage)
      StoreOnce(ws.dir) {
        Stores.create(histOf(o.filter(col("o_orderkey") % 10 >= 2), "base"),
          hT, ws.path("hist"), None, Stores.Vintage)
        // day-2 maintenance: yesterday's histogram merges in as a
        // dynamic vintage-partition overwrite — idempotent under re-run
        quantileStoreAppendDelta1(spark, dir)
      }
      val store = spark.table(hT)
      def arm(rows: DataFrame, part: String): DataFrame =
        rows.groupBy(col("b")).agg(sum(col("c")).as("c"))
          .select(lit(part).as("part"), col("b"), col("c"))
      val hist = graft.Caches.persisted(
        arm(store.filter(col("vintage") === "base"), "day1")
          .unionAll(arm(store, "day2"))
          .unionAll(arm(store.select(col("b"), col("c"), col("vintage"))
            .unionAll(histOf(o.filter(col("o_orderkey") % 10 === 0), "today")), "today"))
          .unionAll(arm(histOf(o, "full"), "full")))
      val nrel = broadcast(hist.groupBy(col("part")).agg(sum(col("c")).as("n")))
      val histB = hist.select(col("part").as("p2"), col("b").as("b2"), col("c").as("c2"))
      val cum = hist.join(histB, col("p2") === col("part") && col("b2") <= col("b"))
        .groupBy(col("part"), col("b")).agg(sum(col("c2")).as("cumc"))
        .join(nrel, Seq("part"))
      val est = Seq(50, 90).map { p =>
        cum.filter(col("cumc") >= expr(s"(n * $p + 99) div 100"))
          .groupBy(col("part"), col("n")).agg(min(col("b")).as("bsel"))
          .crossJoin(spanD)
          .select(col("part"), lit(p).as("p"), col("n").cast("bigint").as("n"),
            (col("minc") + expr("((2 * bsel + 1) * span) div 128"))
              .cast("bigint").as("est_cents"))
      }.reduce(_ unionAll _)
      est.orderBy(col("part"), col("p"))
    },
    Some("""WITH oc AS (SELECT o_orderkey % 10 AS g,
                  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                FROM orders),
            spand AS (SELECT COALESCE(MIN(cents), 0) AS minc,
                        COALESCE(MAX(cents), 0) - COALESCE(MIN(cents), 0) + 1 AS span
                      FROM oc WHERE g >= 2),
            bkt AS (SELECT g, GREATEST(0, LEAST(63, ((cents - minc) * 64) // span)) AS b
                    FROM oc, spand),
            hist AS (
              SELECT 'day1' AS part, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM bkt WHERE g >= 2 GROUP BY b
              UNION ALL
              SELECT 'day2' AS part, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM bkt WHERE g >= 1 GROUP BY b
              UNION ALL
              SELECT 'today' AS part, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM bkt GROUP BY b
              UNION ALL
              SELECT 'full' AS part, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM bkt GROUP BY b),
            nrel AS (SELECT part, SUM(c) AS n FROM hist GROUP BY part),
            cum AS (SELECT h.part, h.b, SUM(h2.c) AS cumc
                    FROM hist h JOIN hist h2 ON h2.part = h.part AND h2.b <= h.b
                    GROUP BY h.part, h.b),
            ps AS (SELECT UNNEST([50, 90]) AS p),
            est AS (SELECT c.part, ps.p, nrel.n,
                      MIN(c.b) AS bsel
                    FROM cum c JOIN nrel ON nrel.part = c.part, ps
                    WHERE c.cumc >= (nrel.n * ps.p + 99) // 100
                    GROUP BY c.part, ps.p, nrel.n)
            SELECT part, p, CAST(n AS BIGINT) AS n,
              CAST(minc + ((2 * bsel + 1) * span) // 128 AS BIGINT) AS est_cents
            FROM est, spand ORDER BY part, p"""))

  /** q_sketch_expire's four catalog tables (family → (table, path)) —
    * expire-private copies of the four mergeable stores, so the shared
    * q_*_store instances other queries read are never mutated. */
  private[graft] def expireStoreTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, (String, String)] = {
    val ws = Stores(spark, dir, "expstore")
    Map(
      "hll_distinct" -> (ws.table("exp_hll"), ws.path("hll")),
      "cms_top1" -> (ws.table("exp_cms"), ws.path("cms")),
      "bloom_bits" -> (ws.table("exp_bloom"), ws.path("bloom")),
      "quantile_p50c" -> (ws.table("exp_quant"), ws.path("quant")))
  }

  /** The RETENTION verb, re-runnable (drop-twice ≡ drop-once): evict
    * every vintage older than the horizon (here: vintage=base, the
    * day-0 batch) from all four sketch stores. Two steps, exactly what
    * a nightly retention job runs: a catalog partition drop (the store
    * stops serving the expired vintage — O(1) metadata, no data pass),
    * then the storage-lifecycle delete of the evicted directory
    * (external-table DROP PARTITION retains files by design; the
    * explicit delete is the bit that actually reclaims 100 TB-scale
    * storage). Both steps are idempotent ([[Stores.expire]]).
    */
  private[graft] def sketchExpireDrop(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    expireStoreTables(spark, dir).values.foreach { case (t, path) =>
      Stores.expire(spark, t, path, "base")
    }

  /** TIME-BASED VINTAGE RETENTION on the mergeable-sketch stores
    * (VERDICT r13 task 2) — the verb a real pipeline runs nightly, and
    * the deliberate complement of the store family's KEY
    * non-invertibility: an HLL register or Bloom bit can never forget a
    * DOCUMENT (maxima/unions — see the q_hll_store / q_bloom_store
    * notes; q_theta_diff is the key-deletion escape hatch), but every
    * store IS trivially invertible by TIME, because vintage is a
    * partition column and the merge folds (MAX / SUM / UNION / SUM) are
    * per-vintage decomposable: dropping a whole day's partition leaves
    * the fold over the remaining vintages EXACTLY equal to a sketch
    * rebuilt without that day — no approximation, no tombstones, no
    * rewrite of surviving data.
    *
    * The query proves that equality in its output, per store family:
    * expire-private copies of the four stores build with vintages base
    * (day 0) + delta1 (day 1), the horizon evicts base
    * ([[sketchExpireDrop]]: catalog partition drop + storage delete —
    * drop-twice ≡ drop-once, property-tested), and each family emits
    * the POST-DROP estimate served from the store fold beside a
    * RECOMPUTE from the retained population's raw keys — rows are equal
    * pairwise: hll_distinct (estimated distinct custkeys), cms_top1
    * (estimated count of the global top-1 word; fixed ingest hash
    * geometry), bloom_bits (set-bit census), quantile_p50c (p50 cents
    * on the INGEST grid — the grid, like the IVF centroids, is
    * ingest-time model state and survives the expiry of the data that
    * derived it).
    *
    * Scale posture: the expire itself is O(#stores) catalog ops + one
    * directory delete per store — never a data pass, never a rewrite of
    * surviving vintages; the post-drop reads scan only the retained
    * partitions (the vintage=base directory is gone from both catalog
    * and disk). The recompute arms are the audit yardstick.
    */
  private val sketchExpire = Q(
    "q_sketch_expire",
    (spark, dir) => {
      val tabs = expireStoreTables(spark, dir)
      val o = Tables(spark, dir, "orders")
      val oc = quantileCentsOf(spark, dir)
      val spanD = quantileSpanOf(oc)
      StoreOnce(Stores(spark, dir, "expstore").dir) {
        def write(df: DataFrame, family: String): Unit = {
          val (t, path) = tabs(family)
          Stores.create(df, t, path, None, Stores.Vintage)
        }
        write(hllRegsOf(o.filter(col("o_orderkey") % 10 >= 2), "base")
          .unionAll(hllRegsOf(o.filter(col("o_orderkey") % 10 === 1), "delta1")),
          "hll_distinct")
        val words = cmsWordsOf(spark, dir)
        write(cmsCountersOf(words.filter(col("g") >= 2), "base")
          .unionAll(cmsCountersOf(words.filter(col("g") === 1), "delta1")),
          "cms_top1")
        val positioned = bloomPositionedOf(spark, dir)
        write(positioned.filter(col("doc_id") % 10 >= 2)
          .select(col("bit"), lit("base").as("vintage")).distinct()
          .unionAll(positioned.filter(col("doc_id") % 10 === 1)
            .select(col("bit"), lit("delta1").as("vintage")).distinct()),
          "bloom_bits")
        write(quantileHistOf(oc.filter(col("o_orderkey") % 10 >= 2), spanD, "base")
          .unionAll(quantileHistOf(oc.filter(col("o_orderkey") % 10 === 1),
            spanD, "delta1")),
          "quantile_p50c")
        // the nightly horizon: day 0 ages out of every store
        sketchExpireDrop(spark, dir)
      }
      // ---- hll: post-drop register fold vs recompute over retained keys
      def hllEst(regs: DataFrame): DataFrame =
        regs.groupBy(col("j")).agg(max(col("m")).as("m"))
          .agg(count(lit(1)).as("nf"),
            coalesce(sum(expr("shiftleft(cast(1 as bigint), 53 - m)")), lit(0L)).as("zp"))
          .select((col("zp") + (lit(256L) - col("nf")) * lit(Pow53)).as("z"),
            (lit(256L) - col("nf")).as("v"))
          .select(floor(
            when(lit(HllC) / col("z").cast("double") <= 640.0 && col("v") > 0,
              lit(256.0) * log(lit(256.0) / col("v").cast("double")))
              .otherwise(lit(HllC) / col("z").cast("double")) + 0.5d)
            .cast("long").as("est"))
      val hllRow = hllEst(spark.table(tabs("hll_distinct")._1).select(col("j"), col("m")))
        .select(col("est").as("post_drop"))
        .crossJoin(hllEst(hllRegsOf(o.filter(col("o_orderkey") % 10 === 1), "x")
          .select(col("j"), col("m"))).select(col("est").as("recomputed")))
        .select(lit("hll_distinct").as("store"), col("post_drop"), col("recomputed"))
      // ---- cms: global top-1 word probed against the retained counters
      val words = graft.Caches.persisted(cmsWordsOf(spark, dir))
      val probe = broadcast(words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(1)
        .select(Portable.hash60(col("word")).as("hv"))
        .select(posexplode(array((0 until 4).map(i =>
          shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
        .withColumnRenamed("pos", "d").withColumnRenamed("col", "p"))
      def cmsEst(counts: DataFrame): DataFrame =
        probe.join(counts, Seq("d", "p"), "left")
          .agg(min(coalesce(col("c"), lit(0L))).as("est"))
      val cmsRow = cmsEst(spark.table(tabs("cms_top1")._1)
          .groupBy(col("d"), col("p")).agg(sum(col("c")).as("c")))
        .select(col("est").as("post_drop"))
        .crossJoin(cmsEst(cmsCountersOf(words.filter(col("g") === 1), "x")
          .select(col("d"), col("p"), col("c"))).select(col("est").as("recomputed")))
        .select(lit("cms_top1").as("store"), col("post_drop"), col("recomputed"))
      // ---- bloom: set-bit census of the retained filter
      val bloomRow = spark.table(tabs("bloom_bits")._1)
        .agg(countDistinct(col("bit")).cast("bigint").as("post_drop"))
        .crossJoin(bloomPositionedOf(spark, dir).filter(col("doc_id") % 10 === 1)
          .agg(countDistinct(col("bit")).cast("bigint").as("recomputed")))
        .select(lit("bloom_bits").as("store"), col("post_drop"), col("recomputed"))
      // ---- quantile: p50 on the ingest grid from the retained histogram
      def p50Of(hist: DataFrame): DataFrame = {
        val h = hist.groupBy(col("b")).agg(sum(col("c")).as("c"))
        val n = h.agg(sum(col("c")).as("n"))
        val hB = h.select(col("b").as("b2"), col("c").as("c2"))
        // the cumulative self-join is domain-bounded by the 64-bucket
        // grid — broadcast it (a bare non-equi join would plan cartesian)
        h.join(broadcast(hB), col("b2") <= col("b"))
          .groupBy(col("b")).agg(sum(col("c2")).as("cumc"))
          .crossJoin(broadcast(n))
          .filter(col("cumc") >= expr("(n * 50 + 99) div 100"))
          .agg(min(col("b")).as("bsel"))
          .crossJoin(spanD)
          .select((col("minc") + expr("((2 * bsel + 1) * span) div 128"))
            .cast("long").as("est"))
      }
      val quantRow = p50Of(spark.table(tabs("quantile_p50c")._1)
          .select(col("b"), col("c")))
        .select(col("est").as("post_drop"))
        .crossJoin(p50Of(quantileHistOf(oc.filter(col("o_orderkey") % 10 === 1),
          spanD, "x").select(col("b"), col("c"))).select(col("est").as("recomputed")))
        .select(lit("quantile_p50c").as("store"), col("post_drop"), col("recomputed"))
      bloomRow.unionAll(cmsRow).unionAll(hllRow).unionAll(quantRow)
        .orderBy(col("store"))
    },
    Some(s"""WITH okeyed AS (SELECT o_orderkey % 10 AS g, o_custkey AS k,
                      CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
                    FROM orders),
            hreg AS (SELECT CAST(h % 256 AS INT) AS j,
                       MAX(CASE WHEN h // 256 = 0 THEN 53
                            ELSE 53 - length(bin(h // 256)) END) AS m
                     FROM okeyed WHERE g = 1 GROUP BY 1),
            hz AS (SELECT COUNT(*) AS nf,
                     COALESCE(SUM(CAST(1 AS BIGINT) << (53 - m)), 0) AS zp
                   FROM hreg),
            hest AS (SELECT CAST(FLOOR(CASE
                       WHEN CAST($HllC AS DOUBLE)
                           / CAST(zp + (256 - nf) * $Pow53 AS DOUBLE) <= 640.0
                           AND 256 - nf > 0
                       THEN 256.0 * ln(256.0 / CAST(256 - nf AS DOUBLE))
                       ELSE CAST($HllC AS DOUBLE)
                           / CAST(zp + (256 - nf) * $Pow53 AS DOUBLE)
                     END + 0.5) AS BIGINT) AS est FROM hz),
            words AS (SELECT doc_id % 10 AS g, word
                      FROM (SELECT doc_id,
                              UNNEST(string_split(lower(text), ' ')) AS word
                            FROM documents)
                      WHERE word <> ''),
            top1 AS (SELECT word FROM words GROUP BY word
                     ORDER BY COUNT(*) DESC, word LIMIT 1),
            cprobe AS (SELECT i AS d,
                         (CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
                           >> (9 * i)) & 511 AS p
                       FROM top1, UNNEST(generate_series(0, 3)) AS u(i)),
            ccnt AS (SELECT i AS d,
                       (CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
                         >> (9 * i)) & 511 AS p,
                       CAST(COUNT(*) AS BIGINT) AS c
                     FROM words, UNNEST(generate_series(0, 3)) AS u(i)
                     WHERE g = 1 GROUP BY 1, 2),
            cest AS (SELECT MIN(COALESCE(cc.c, 0)) AS est
                     FROM cprobe cp LEFT JOIN ccnt cc
                       ON cc.d = cp.d AND cc.p = cp.p),
            bbits AS (SELECT CAST(COUNT(DISTINCT
                        (CAST('0x' || substr(md5(md5(text)), 1, 15) AS BIGINT)
                          >> (12 * i)) & 4095) AS BIGINT) AS est
                      FROM documents, UNNEST(generate_series(0, 3)) AS u(i)
                      WHERE doc_id % 10 = 1),
            oc AS (SELECT o_orderkey % 10 AS g,
                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM orders),
            spand AS (SELECT COALESCE(MIN(cents), 0) AS minc,
                        COALESCE(MAX(cents), 0) - COALESCE(MIN(cents), 0) + 1 AS span
                      FROM oc WHERE g >= 2),
            qhist AS (SELECT GREATEST(0, LEAST(63, ((cents - minc) * 64) // span)) AS b,
                        CAST(COUNT(*) AS BIGINT) AS c
                      FROM oc, spand WHERE g = 1 GROUP BY 1),
            qn AS (SELECT SUM(c) AS n FROM qhist),
            qcum AS (SELECT h.b, SUM(h2.c) AS cumc
                     FROM qhist h JOIN qhist h2 ON h2.b <= h.b GROUP BY h.b),
            qest AS (SELECT CAST(minc + ((2 * MIN(qcum.b) + 1) * span) // 128 AS BIGINT) AS est
                     FROM qcum, qn, spand
                     WHERE qcum.cumc >= (qn.n * 50 + 99) // 100
                     GROUP BY minc, span)
            SELECT store, post_drop, recomputed FROM (
              SELECT 'bloom_bits' AS store, est AS post_drop, est AS recomputed FROM bbits
              UNION ALL
              SELECT 'cms_top1', est, est FROM cest
              UNION ALL
              SELECT 'hll_distinct', est, est FROM hest
              UNION ALL
              SELECT 'quantile_p50c', est, est FROM qest)
            ORDER BY store"""))

  val all: Seq[Q] = Seq(hllMerge, bloomIncremental, bottomkSample,
    cmsMerge, quantileMerge, weightedSample, thetaSketch, thetaDiff,
    hllPrecisionSweep, bloomFprSweep, cmsWidthSweep, hllStore, cmsStore,
    bloomStore, quantileStore, sketchExpire)
}
