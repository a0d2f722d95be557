package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable.pround
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` — the LLM-pipeline operators:
  * exact (hash → keep-first), MinHash+LSH (shingle → minhash → band →
  * bucket-join → jaccard verify), SimHash signatures, and n-gram Jaccard.
  * (Embedding-cosine near-dup lives in VectorQueries.)
  *
  * Portable hashing: each shingle is md5-hashed ONCE to a 60-bit integer;
  * the 16 minhash functions are XOR permutations of that value by fixed
  * constants — both engines compute `x XOR k` exactly (Spark bitwiseXOR,
  * DuckDB xor), so signatures match bit-for-bit while md5 work drops 16x.
  *
  * Scale shape: all stages key their shuffles on content-derived values
  * (hash, shingle, (band, signature)) — uniformly distributed, skew-free,
  * and partitionable to any cluster size. Nothing is ever collected to the
  * driver.
  */
object DedupQueries {

  /** Exact dedup: md5 content hash, keep the lowest doc_id per hash. */
  private val dedupExact = Q(
    "q_dedup_exact",
    (spark, dir) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      Tables(spark, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents)
            WHERE rn = 1 ORDER BY doc_id"""))

  /** Distinct word-3-gram shingles per doc: (doc_id, sh). Shingling is
    * compute-bound (codegen'd WordNGrams + explode + md5 funnel), so the
    * under-split documents scan is spread first — the r10 cpu_ms
    * telemetry showed the shingle family's census stages serializing on
    * the fixture's single parquet split (q_minhash_est_error 18.5 s CPU
    * under 7.1 s wall on 32 cores = ~2.6 effective cores).
    */
  private def shingleRel(spark: SparkSession, dir: String): DataFrame =
    shingleRelOf(Tables.spreadIfUnderSplitAtScale(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text"))))

  /** Same over any (doc_id, text) relation — the global span detector is
    * property-tested on in-memory fixtures through this seam.
    */
  private[graft] def shingleRelOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(TextOps.distinctWordNGrams(col("text"), 3)).as("sh"))

  /** Positional word-3-gram shingles: (doc_id, pos, sh), pos 0-based. */
  private[graft] def posShingleRelOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TextOps.wordNGramsAll(col("text"), 3)).as(Seq("pos", "sh")))

  /** Fixed 60-bit XOR constants defining the 16 minhash functions
    * (derived from md5 of the seed index — reproducible in the oracle as
    * inline literals).
    */
  private[graft] val minhashSeeds: Seq[Long] = (0 until 16).map { s =>
    val digest = java.security.MessageDigest.getInstance("MD5")
    val hex = digest.digest(s"seed$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** 16-hash XOR-minhash signatures per doc: (doc_id, mh0..mh15) in one
    * partial-aggregated groupBy over the shingle relation.
    */
  private[graft] def minhashSigs(sh: DataFrame): DataFrame = {
    val x = graft.functions.Portable.hash60(col("sh"))
    val mhCols = minhashSeeds.zipWithIndex.map { case (k, i) =>
      min(col("x").bitwiseXOR(lit(k))).as(s"mh$i")
    }
    sh.select(col("doc_id"), x.as("x"))
      .groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
  }

  /** LSH candidate pairs (doc_a < doc_b) from a (doc_id, sh) shingle
    * relation: 16 XOR-minhashes ([[minhashSigs]]), 4 bands
    * of 4, bucket self-join on (band, signature).
    */
  private[graft] def minhashCandidates(sh: DataFrame): DataFrame =
    minhashCandidatesFromSigs(minhashSigs(sh))

  /** The banding + bucket self-join over an already-computed signature
    * relation — split out so calibration queries can share one signature
    * pass between the candidate generator and the estimator.
    */
  private[graft] def minhashCandidatesFromSigs(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      concat_ws(",", (0 until 4).map(i => col(s"mh${b * 4 + i}").cast("string")): _*).as(s"b$b"))
    val bands = sigs.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, sig)")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Each candidate pair's shared shingle count `i` beside both docs'
    * shingle counts `na` and `nb`. */
  private def overlapOf(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** Oracle twin of [[overlapOf]] over `cand` and `sh`: `sizes`, `inter`. */
  private val overlapCtes =
    """sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                 FROM cand c
                 JOIN sh x ON x.doc_id = c.doc_a
                 JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
                 GROUP BY c.doc_a, c.doc_b)"""

  /** Exact Jaccard over candidate pairs via the shingle relation. */
  private def jaccardOf(cand: DataFrame, sh: DataFrame): DataFrame = {
    overlapOf(cand, sh)
      .select(col("doc_a"), col("doc_b"),
        pround(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
  }

  /** Shared oracle CTE chain: documents → shingles → minhash signatures →
    * LSH bands → candidate pairs (`cand(doc_a, doc_b)`). Used by the
    * minhash query and by the connected-components clustering oracle so
    * both replay the identical candidate generator.
    */
  private[graft] def minhashCandCte: String = minhashCandCteFrom("documents")

  /** Same chain over any source relation exposing (doc_id, text) — the
    * corpus pipeline runs it over the quality-filtered, exact-deduped
    * survivors instead of raw documents.
    */
  private[graft] def minhashCandCteFrom(src: String): String = {
    val mhCols = minhashSeeds.zipWithIndex
      .map { case (k, i) => s"MIN(xor(x, $k)) AS mh$i" }.mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val sig = (b * 4 until b * 4 + 4).map(i => s"CAST(mh$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                 FROM $src),
        sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
               FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
               WHERE len(ws) >= 3),
        xs AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS x FROM sh),
        mh AS (SELECT doc_id, $mhCols FROM xs GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"""
  }

  private def minhashOracle: String = {
    s"""WITH $minhashCandCte,
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                  FROM cand c
                  JOIN sh x ON x.doc_id = c.doc_a
                  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
                  GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b,
          FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)) * 10000 + 0.5) / 10000 AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        ORDER BY doc_a, doc_b"""
  }

  /** MinHash + LSH candidate pairs with exact Jaccard verification.
    *
    * 16 XOR-permutation hash functions, 4 bands x 4 rows: docs agreeing on
    * all 4 minhashes of any band become candidates; candidates are then
    * verified with exact shingle-set Jaccard. The band bucket-join replaces
    * the quadratic all-pairs compare — the scalable dedup pipeline.
    */
  private val dedupMinhash = Q(
    "q_dedup_minhash",
    (spark, dir) => {
      // no .cache(): the native shingle pass is cheap to recompute and a
      // cached relation on the shared session would accumulate storage
      // across repeated builds (Bench warm-up + timed run, test re-runs)
      val sh = shingleRel(spark, dir)
      jaccardOf(minhashCandidates(sh), sh)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(minhashOracle))

  /** Per-document SimHash signature of `width` bits (one vote position
    * per md5 hex char, width ≤ 32): one md5 per word occurrence, width
    * partial-aggregated bit votes in one groupBy(doc). The 16-bit
    * variant is q_dedup_simhash's declared output; the Hamming index
    * uses the full 32 — signature width is THE simhash scale knob
    * (buckets must outnumber documents or band buckets go quadratic).
    */
  private def simhashSigs(spark: SparkSession, dir: String, width: Int = 16): DataFrame = {
    val high = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val voteCols = (1 to width).map(i =>
      sum(when(substring(col("m"), i, 1).isin(high: _*), 1).otherwise(-1)).as(s"s$i"))
    val sigChar = (1 to width).map(i =>
      when(col(s"s$i") > 0, lit("1")).otherwise(lit("0")))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextOps.wordsNative(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("m")) // hash each word once
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), concat(sigChar: _*).as(s"simhash$width"))
  }

  /** Shared oracle CTE: documents → word md5 votes → width-bit signature
    * string (`sig(doc_id, s)`).
    */
  private def simhashSigCte(width: Int): String =
    s"""w1 AS (SELECT doc_id, word AS w FROM
               (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
             WHERE word <> ''),
       bits AS (SELECT doc_id, i,
                  SUM(CASE WHEN substr(md5(w), i, 1) IN
                    ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
                FROM w1, UNNEST(generate_series(1, $width)) AS t(i)
                GROUP BY doc_id, i),
       sig AS (SELECT doc_id,
                 string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS s
               FROM bits GROUP BY doc_id)"""

  /** SimHash: 16-bit signature from per-hex-char md5 "bit" votes weighted
    * by term frequency. md5(w) is computed once per word occurrence; the 16
    * bit votes are partial-aggregated sums in a single groupBy (no row
    * explosion). Near-dup docs differ in few signature bits.
    */
  private val dedupSimhash = Q(
    "q_dedup_simhash",
    (spark, dir) => simhashSigs(spark, dir, width = 16).orderBy(col("doc_id")),
    Some("""WITH w1 AS (SELECT doc_id, word AS w FROM
                          (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
                        WHERE word <> ''),
            bits AS (SELECT doc_id, i,
                       SUM(CASE WHEN substr(md5(w), i, 1) IN
                         ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
                     FROM w1, UNNEST(generate_series(1, 16)) AS t(i)
                     GROUP BY doc_id, i)
            SELECT doc_id,
              string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS simhash16
            FROM bits GROUP BY doc_id ORDER BY doc_id"""))

  /** n-gram Jaccard similarity: exact top-20 most-similar doc pairs within
    * a bounded id window (the exact verifier; minhash-LSH is the candidate
    * generator for unbounded scale).
    */
  private val dedupNgram = Q(
    "q_dedup_ngram",
    (spark, dir) => {
      // deliberate: pairs come from the shingle self-join directly (not
      // jaccardOf over pre-built candidates) so intersections are counted
      // in the same pass that discovers the pairs; no cache (see above)
      val sh = shingleRel(spark, dir).filter(col("doc_id") < 40)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("doc_a"), col("sh"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh")), "sh")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          pround(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents WHERE doc_id < 40),
            sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                   FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                   WHERE len(ws) >= 3),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
                      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                      GROUP BY x.doc_id, y.doc_id)
            SELECT i.doc_a, i.doc_b,
              FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)) * 10000 + 0.5) / 10000 AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""))

  /** Asymmetric containment dedup: over the LSH candidate pairs, compute
    * BOTH directional containments |A∩B|/|A| and |A∩B|/|B| and flag
    * subset duplicates (max containment ≥ 0.8) — the quote/excerpt case
    * symmetric Jaccard under-scores (a paragraph fully contained in a
    * 10× longer page has Jaccard ≈ 0.1 but containment 1.0). Same
    * candidate generator and intersection-count shape as
    * q_dedup_minhash; the directional division is the only new math.
    */
  private val dedupContainment = Q(
    "q_dedup_containment",
    (spark, dir) => {
      val sh = shingleRel(spark, dir)
      overlapOf(minhashCandidates(sh), sh)
        .select(col("doc_a"), col("doc_b"),
          pround(col("i").cast("double") / col("na").cast("double"), 4).as("cont_a"),
          pround(col("i").cast("double") / col("nb").cast("double"), 4).as("cont_b"))
        .withColumn("is_subset_dup",
          (greatest(col("cont_a"), col("cont_b")) >= 0.8).cast("int"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $minhashCandCte,
             $overlapCtes,
             r AS (SELECT i.doc_a, i.doc_b,
                     FLOOR((CAST(i.i AS DOUBLE) / CAST(sa.n AS DOUBLE)) * 10000 + 0.5) / 10000 AS cont_a,
                     FLOOR((CAST(i.i AS DOUBLE) / CAST(sb.n AS DOUBLE)) * 10000 + 0.5) / 10000 AS cont_b
                   FROM inter i
                   JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b)
             SELECT doc_a, doc_b, cont_a, cont_b,
               CAST(CASE WHEN GREATEST(cont_a, cont_b) >= 0.8 THEN 1 ELSE 0 END AS INT)
                 AS is_subset_dup
             FROM r ORDER BY doc_a, doc_b"""))

  /** MinHash-LSH recall audit — the dedup-side twin of q_ann_recall's
    * index-quality gate. Ground truth: pairs with exact (rounded)
    * shingle Jaccard ≥ 0.5, DISCOVERED through the df-pruned posting
    * self-join (shingles in 2..50 docs — the q_cosine_pairs DISCO bound;
    * df = 1 shingles pair with nobody and are the bulk of posting mass,
    * keeping discovery linear in rare-posting mass instead of quadratic
    * in any boilerplate shingle's document list) and VERIFIED with the
    * exact Jaccard over the full shingle sets of just the discovered
    * pairs. A true ≥0.5-Jaccard pair whose every shared shingle sits in
    * >50 documents would be missed — that is corpus-wide boilerplate,
    * not near-duplication, and the bound is what makes the audit
    * runnable at 100 TB. The candidate set is the 16-hash/4-band LSH
    * generator every dedup pipeline here runs on; reported: truth size,
    * candidate volume, hits, recall — the number that says whether the
    * band parameters are safe to ship.
    */
  private val minhashRecall = Q(
    "q_minhash_recall",
    (spark, dir) => {
      // cached ONCE, pre-partitioned on the shingle hash, with the df
      // count attached colocated: the df aggregate, the df attach-join,
      // the rare/common split (now plain filters) and BOTH sides of the
      // rare-posting self-join all consume hashpartitioning(sh) straight
      // from the cache — one upfront exchange instead of one per
      // consumer (the q_graph_jaccard exchange-collapse pattern; the
      // session pins canChangeCachedPlanOutputPartitioning=true so the
      // cached partitioning is honored). Released by the harness
      // post-query.
      val shd = graft.Caches.persisted {
        val sh0 = shingleRel(spark, dir).repartition(col("sh"))
        val dfc = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        sh0.join(dfc, "sh")
      }
      val sh = shd.select(col("doc_id"), col("sh"))
      // df >= 2 is semantics-free (a shingle in one document pairs with
      // nobody) but drops the discovery self-join input from ALL postings
      // to just the shared ones — unique shingles are the overwhelming
      // majority of posting mass, same reason q_cosine_pairs bounds 2..50
      val rare = shd.filter(col("df").between(2, 50))
      // Exact intersection without the pair×postings fan-out: df partitions
      // the shingle space into df=1 (never shared), 2..50 (each shared
      // occurrence is exactly one row of the pair-generating join — so
      // GROUP BY pair COUNT(*) IS the rare intersection), and >50 (few
      // TYPES by construction — posting mass / 50 — so the common
      // contribution joins pair × common-shingles-per-doc, not pair ×
      // all-shingles-per-doc). i = i_rare + i_common exactly; on a
      // self-similar corpus this replaces a ~60M-row intermediate with
      // the 1.3M-row join output it already paid for.
      val pr = graft.Caches.persisted(
        rare.select(col("doc_id").as("doc_a"), col("sh"))
          .join(rare.select(col("doc_id").as("doc_b"), col("sh")), "sh")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("i_rare")))
      val com = shd.filter(col("df") > 50)
      val ic = pr.select(col("doc_a"), col("doc_b"))
        .join(com.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
        .join(com.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("i_common"))
      // ONE doc_id-keyed pass computes BOTH the 16-hash signatures and
      // the shingle-set sizes (r17, guide §2.3 shuffle fewer bytes /
      // §1.2 fewer passes): sizes and minhashSigs were two IDENTICAL
      // full-posting exchanges on doc_id over the same cache; the fused
      // aggregate pays one, and the doc-count-sized result is cached for
      // its three consumers (bands, sizes-as-na, sizes-as-nb).
      val sigsN = graft.Caches.persisted {
        val x = graft.functions.Portable.hash60(col("sh"))
        val mhCols = minhashSeeds.zipWithIndex.map { case (k, i) =>
          min(col("x").bitwiseXOR(lit(k))).as(s"mh$i")
        }
        sh.select(col("doc_id"), x.as("x"))
          .groupBy(col("doc_id"))
          .agg(mhCols.head, (mhCols.tail :+ count(lit(1)).as("n")): _*)
      }
      val sizes = sigsN.select(col("doc_id"), col("n"))
      val inter = pr.join(ic, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          (col("i_rare") + coalesce(col("i_common"), lit(0L))).as("i"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .filter(pround(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      val cand = graft.Caches.persisted(
        minhashCandidatesFromSigs(sigsN).withColumn("hit", lit(1)))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).cast("bigint").as("n_truth"),
          count(col("hit")).cast("bigint").as("hits"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).cast("bigint").as("n_cand"))))
        .select(col("n_truth"), col("n_cand"), col("hits"),
          // degenerate-corpus guard: 0/0 is NaN on Spark but NULL-ish in
          // DuckDB — pin both engines to NULL when no ground truth exists
          when(col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(pround(col("hits").cast("double") / col("n_truth").cast("double"), 4))
            .as("recall"))
    },
    Some(s"""WITH $minhashCandCte,
             df AS (SELECT sh AS g, COUNT(*) AS df FROM sh GROUP BY sh),
             rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN df ON df.g = s.sh
                      WHERE df.df BETWEEN 2 AND 50),
             pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i_rare
                    FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
                    GROUP BY 1, 2),
             com AS (SELECT s.doc_id, s.sh FROM sh s JOIN df ON df.g = s.sh
                     WHERE df.df > 50),
             ic AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS i_common
                    FROM pr p JOIN com x ON x.doc_id = p.doc_a
                    JOIN com y ON y.doc_id = p.doc_b AND y.sh = x.sh
                    GROUP BY 1, 2),
             sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             inter AS (SELECT pr.doc_a, pr.doc_b, pr.i_rare + COALESCE(ic.i_common, 0) AS i
                       FROM pr LEFT JOIN ic USING (doc_a, doc_b)),
             truth AS (SELECT i.doc_a, i.doc_b
                       FROM inter i
                       JOIN sizes sa ON sa.doc_id = i.doc_a
                       JOIN sizes sb ON sb.doc_id = i.doc_b
                       WHERE FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i))
                               * 10000 + 0.5) / 10000 >= 0.5),
             h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
                     CAST(COUNT(c.doc_a) AS BIGINT) AS hits
                   FROM truth t LEFT JOIN cand c
                     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
             nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand)
             SELECT n_truth, n_cand, hits,
               CASE WHEN n_truth = 0 THEN NULL
                    ELSE FLOOR((CAST(hits AS DOUBLE) / CAST(n_truth AS DOUBLE)) * 10000 + 0.5) / 10000
               END AS recall
             FROM h CROSS JOIN nc"""))

  /** Non-overlapping 32-token chunks per document — the C4/RefinedWeb
    * span-dedup granularity (shingles catch near-dups; fixed spans catch
    * boilerplate and quotation reuse). `slice` is 1-based with an
    * out-of-range-tolerant length, exactly like DuckDB's `ws[a:b]`, so the
    * short tail chunk matches bit-for-bit. Empty documents are filtered on
    * both sides: Spark's `sequence(0, -1)` would count DOWN (a 2-element
    * array) where DuckDB's `generate_series(0, -1)` is empty.
    */
  private def chunkRel(spark: SparkSession, dir: String): DataFrame =
    // tokenize + 32-token chunk assembly is the compute (r10 telemetry:
    // ~2.5 effective cores on its consumers) — spread the 1-split scan
    Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), TextOps.wordsNative(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(0, (size(ws)-1) div 32), " +
            "i -> array_join(slice(ws, i*32+1, 32), ' '))")).as("chunk"))

  private val chunkCte =
    """d AS (SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
       FROM documents),
       ch AS (SELECT doc_id, source,
         array_to_string(ws[(i*32+1):(i*32+32)], ' ') AS chunk
       FROM d, UNNEST(generate_series(0, (len(ws)-1)//32)) AS t(i)
       WHERE len(ws) > 0)"""

  /** Chunk-level exact dedup audit: per document, how many of its fixed
    * 32-token chunks also appear verbatim in some OTHER document. The
    * span analog of q_dedup_exact — catches partial copies whole-text
    * hashing misses and boilerplate minhash dilutes away. Shape: one
    * chunk-keyed aggregate finds cross-document chunks (content-hashed
    * shuffle key, skew-free), then a broadcast-size semi relation flags
    * the chunk rows and a doc-keyed aggregate folds them per document —
    * never a doc×doc comparison, so the plan is linear in corpus size.
    */
  private val chunkDedup = Q(
    "q_chunk_dedup",
    (spark, dir) => {
      // cached: consumed by the cross-doc chunk aggregate AND the per-doc
      // fold below; released by the harness post-query
      val c = graft.Caches.persisted(chunkRel(spark, dir))
      val dup = c.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("chunk").as("dchunk"))
      c.join(dup, col("chunk") === col("dchunk"), "left_outer")
        .select(col("doc_id"),
          when(col("dchunk").isNotNull, 1L).otherwise(0L).as("isdup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("isdup")).as("n_dup_chunks"))
        .filter(col("n_dup_chunks") > 0)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $chunkCte,
             dup AS (SELECT chunk FROM ch GROUP BY chunk
                     HAVING COUNT(DISTINCT doc_id) >= 2),
             f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                     CAST(SUM(CASE WHEN chunk IN (SELECT chunk FROM dup)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
                   FROM ch GROUP BY doc_id)
             SELECT doc_id, n_chunks, n_dup_chunks
             FROM f WHERE n_dup_chunks > 0 ORDER BY doc_id"""))

  /** Duplicate-mass attribution: which SOURCES contribute the duplicated
    * spans — the report that decides which crawl/feed to down-weight or
    * re-filter. Same chunk relation as q_chunk_dedup grouped by source
    * instead of document; ratio is a 4dp portable round of two exact
    * counts. (Whole-document hashing is degenerate here — the synthetic
    * corpus has no verbatim full-text duplicates — so the attribution runs
    * at the span granularity where duplication actually lives.)
    */
  private val dupRatioBySource = Q(
    "q_dup_ratio_by_source",
    (spark, dir) => {
      val c = graft.Caches.persisted(chunkRel(spark, dir))
      val dup = c.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("chunk").as("dchunk"))
      c.join(dup, col("chunk") === col("dchunk"), "left_outer")
        .select(col("source"),
          when(col("dchunk").isNotNull, 1L).otherwise(0L).as("isdup"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("chunks"), sum(col("isdup")).as("dup_chunks"))
        .select(col("source"), col("chunks"), col("dup_chunks"),
          pround(col("dup_chunks").cast("double") / col("chunks").cast("double"), 4)
            .as("dup_ratio"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $chunkCte,
             dup AS (SELECT chunk FROM ch GROUP BY chunk
                     HAVING COUNT(DISTINCT doc_id) >= 2)
             SELECT source, CAST(COUNT(*) AS BIGINT) AS chunks,
               CAST(SUM(CASE WHEN chunk IN (SELECT chunk FROM dup)
                             THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
               FLOOR((CAST(SUM(CASE WHEN chunk IN (SELECT chunk FROM dup)
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS dup_ratio
             FROM ch GROUP BY source ORDER BY source"""))

  /** MinHash-LSH precision sweep — the complement of q_minhash_recall's
    * audit: of the candidate pairs the banded LSH emits, how many are
    * TRUE near-duplicates at Jaccard thresholds {0.5, 0.7, 0.9}. Tuning
    * the band/row split is exactly this precision/recall trade, so the
    * two queries together are the dedup quality dashboard. Candidates
    * and their exact Jaccard are computed once (persisted) and the three
    * thresholds probe the bounded scored relation via a broadcast
    * nested-loop — never re-running the LSH. The Spark-side 4dp-rounded
    * Jaccard and the double threshold literals are bit-identical in both
    * engines, so the >= cut has no knife edges.
    */
  private val minhashPrecision = Q(
    "q_minhash_precision",
    (spark, dir) => {
      val sh = graft.Caches.persisted(shingleRel(spark, dir))
      val cand = graft.Caches.persisted(minhashCandidates(sh))
      val j = jaccardOf(cand, sh) // inner: only pairs sharing ≥1 shingle
      val nc = broadcast(cand.agg(count(lit(1)).as("n_cand")))
      val thr = broadcast(spark.range(1)
        .select(explode(expr("array(0.5d, 0.7d, 0.9d)")).as("thr")))
      thr.join(j, col("jaccard") >= col("thr"), "left_outer")
        .groupBy(col("thr")).agg(count(col("jaccard")).as("n_true"))
        .crossJoin(nc)
        .select(col("thr"), col("n_cand"), col("n_true"),
          when(col("n_cand") === 0, lit(null).cast("double"))
            .otherwise(pround(col("n_true").cast("double") / col("n_cand").cast("double"), 4))
            .as("prec"))
        .orderBy(col("thr"))
    },
    Some(s"""WITH $minhashCandCte,
             sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                       FROM sh GROUP BY doc_id),
             i AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
                   FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                   JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
                   GROUP BY c.doc_a, c.doc_b),
             j AS (SELECT FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i))
                     * 10000 + 0.5) / 10000 AS jaccard
                   FROM i JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b),
             nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
             t AS (SELECT CAST(thr AS DOUBLE) AS thr
                   FROM UNNEST([0.5, 0.7, 0.9]) AS u(thr))
             SELECT thr, n_cand, CAST(COUNT(j.jaccard) AS BIGINT) AS n_true,
               CASE WHEN n_cand = 0 THEN NULL
                    ELSE FLOOR((CAST(COUNT(j.jaccard) AS DOUBLE)
                      / CAST(n_cand AS DOUBLE)) * 10000 + 0.5) / 10000
               END AS prec
             FROM t LEFT JOIN j ON j.jaccard >= t.thr CROSS JOIN nc
             GROUP BY thr, n_cand ORDER BY thr"""))

  /** Variable-length span dedup — the modality q_chunk_dedup's fixed
    * 32-token grid cannot see: duplicated spans that straddle chunk
    * boundaries (the reason Lee et al.'s ExactSubstr dedup builds suffix
    * arrays; PAPERS.md dedup line). Scale-faithful Spark shape instead of
    * a suffix array: positional 3-token shingles on both sides of each
    * LSH candidate pair, matched on shingle equality, then merged into
    * MAXIMAL runs with the classic diagonal trick — matches at positions
    * (i, j) belong to the same duplicated span iff they share the
    * diagonal d = i − j and their i's are consecutive, so
    * grp = i − row_number() over (pair, diag ordered by i) labels each
    * maximal run and COUNT(*) + k − 1 is its span length in tokens.
    * Reported per pair: the longest shared span and the number of
    * maximal runs ≥ 5 tokens.
    *
    * Scale posture: the pair space is BOUNDED BY THE LSH CANDIDATE SET
    * (never doc × doc — the q_minhash_precision discipline), the match
    * relation is linear in shared-shingle occurrences per candidate
    * pair, and the run-merge window partitions by (pair, diagonal) —
    * unbounded parallelism, no global sort. The oracle replays the
    * identical run-merge in SQL over the shared candidate CTE.
    */
  private val spanDedup = Q(
    "q_span_dedup",
    (spark, dir) => {
      // pairSpanRuns pre-filters to span >= 5; the per-pair fold below is
      // value-identical to aggregating all runs then demanding max >= 5
      // (pairs whose every run is < 5 vanish either way, and n_spans only
      // ever counted the >= 5 runs)
      // positional shingling is the compute: spread the under-split scan
      // (the shingleRel inside minhashCandidates spreads its own)
      val runs = pairSpanRuns(
        posShingleRelOf(Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("doc_id"), col("text")))),
        minhashCandidates(shingleRel(spark, dir)))
      runs.groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("span")).cast("bigint").as("longest_span"),
          count(lit(1)).cast("bigint").as("n_spans"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $minhashCandCte,
             ps AS (SELECT doc_id, i - 1 AS pos,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                    FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                    WHERE len(ws) >= 3),
             m AS (SELECT c.doc_a, c.doc_b, a.pos - b.pos AS diag, a.pos AS i
                   FROM cand c
                   JOIN ps a ON a.doc_id = c.doc_a
                   JOIN ps b ON b.doc_id = c.doc_b AND b.sh = a.sh),
             r AS (SELECT doc_a, doc_b, diag,
                     i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                       ORDER BY i) AS grp
                   FROM m),
             runs AS (SELECT doc_a, doc_b, COUNT(*) + 2 AS span
                      FROM r GROUP BY doc_a, doc_b, diag, grp)
             SELECT doc_a, doc_b, CAST(MAX(span) AS BIGINT) AS longest_span,
               CAST(SUM(CASE WHEN span >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
             FROM runs GROUP BY doc_a, doc_b
             HAVING MAX(span) >= 5
             ORDER BY doc_a, doc_b"""))

  /** Span-level train/test leakage — the decontamination audit
    * q_split_leakage cannot see: that query compares whole-document
    * canonical hashes, but benchmark contamination in practice is a test
    * PASSAGE appearing inside a longer training document (the reason
    * decontamination pipelines match n-gram spans, not documents). Same
    * deterministic doc_id-hash 90/10 split, same 32-token chunk
    * vocabulary as q_chunk_dedup; a test chunk "leaks" when the
    * identical chunk text occurs in any train document. One content-
    * keyed semi-join against the distinct train-chunk relation — the
    * chunk string is the shuffle key (uniform, skew-free), nothing is
    * pairwise, linear at any corpus size.
    */
  private val spanLeakage = Q(
    "q_span_leakage",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      val c = graft.Caches.persisted(chunkRel(spark, dir)
        .withColumn("train",
          pmod(hash60(concat(lit("split"), col("doc_id").cast("string"))),
            lit(100L)) < 90))
      val trainChunks = c.filter(col("train")).select(col("chunk")).distinct()
      val test = c.filter(!col("train"))
      val leak = test.join(trainChunks, Seq("chunk"), "left_semi")
        .agg(count(lit(1)).cast("bigint").as("n_leaked_chunks"),
          countDistinct(col("doc_id")).cast("bigint").as("n_affected_docs"))
      test.agg(countDistinct(col("doc_id")).cast("bigint").as("n_test_docs"),
          count(lit(1)).cast("bigint").as("n_test_chunks"))
        .crossJoin(broadcast(leak))
        .select(col("n_test_docs"), col("n_test_chunks"),
          col("n_leaked_chunks"), col("n_affected_docs"),
          // empty-test-split guard: the q_minhash_recall NULL rule
          when(col("n_test_chunks") === 0, lit(null).cast("double"))
            .otherwise(pround(col("n_leaked_chunks").cast("double") /
              col("n_test_chunks").cast("double"), 4)).as("leak_rate"))
    },
    Some(s"""WITH $chunkCte,
             s AS (SELECT doc_id, chunk,
                     CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 100 < 90 AS train
                   FROM ch),
             tr AS (SELECT DISTINCT chunk FROM s WHERE train),
             te AS (SELECT doc_id, chunk FROM s WHERE NOT train),
             lk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_chunks,
                      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_affected_docs
                    FROM te WHERE chunk IN (SELECT chunk FROM tr)),
             st AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_test_docs,
                      CAST(COUNT(*) AS BIGINT) AS n_test_chunks FROM te)
             SELECT n_test_docs, n_test_chunks, n_leaked_chunks, n_affected_docs,
               CASE WHEN n_test_chunks = 0 THEN NULL
                    ELSE FLOOR((CAST(n_leaked_chunks AS DOUBLE) / CAST(n_test_chunks AS DOUBLE))
                      * 10000 + 0.5) / 10000 END AS leak_rate
             FROM st CROSS JOIN lk"""))

  /** MinHash estimator calibration — the third leg of the dedup quality
    * gates (recall: does LSH find the true pairs; precision: are the
    * found pairs true; THIS: is the signature-estimated Jaccard itself
    * accurate enough to threshold on). Over every LSH candidate pair:
    * the estimator matches/16 (the fraction of agreeing minhashes — its
    * expectation IS the Jaccard) against the exact shingle-set Jaccard,
    * reported per exact-Jaccard decile bucket as pair count, mean
    * estimate and mean absolute error — the table that tells an operator
    * whether 16 hashes suffice or the signature must widen.
    *
    * Determinism: all three statistics ride integer funnels — match
    * counts are 0..16 integers, the exact Jaccard enters as its
    * 4-decimal integer m = floor(j·10⁴ + 0.5), the per-pair absolute
    * error is the INTEGER |cnt·10⁴ − 16·m| (× 16·10⁴ of the true error),
    * and only the final per-bucket divisions touch doubles — no float
    * summation-order knife edges (the q_dsir_weights rule). The decile
    * bucket is integer arithmetic on m for the same reason.
    *
    * Scale posture: one signature pass shared with the candidate
    * generator ([[minhashCandidatesFromSigs]]), pair space LSH-bounded,
    * signature join keyed on doc_id (uniform), 10-row output.
    */
  private val minhashEstError = Q(
    "q_minhash_est_error",
    (spark, dir) => {
      val sh = graft.Caches.persisted(shingleRel(spark, dir))
      val sigs = graft.Caches.persisted(minhashSigs(sh))
      val cand = minhashCandidatesFromSigs(sigs)
      val matchCnt = (0 until 16)
        .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand
        .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), matchCnt.cast("long").as("cnt"))
      val exact = jaccardOf(cand, sh)
      est.join(exact, Seq("doc_a", "doc_b"))
        .select(col("cnt"),
          floor(col("jaccard") * 10000 + 0.5).cast("long").as("m"))
        .select(col("cnt"), col("m"),
          least(lit(9L), expr("m div 1000")).cast("int").as("bucket"),
          abs(col("cnt") * 10000L - lit(16L) * col("m")).as("err_u"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          sum(col("cnt")).as("sc"), sum(col("err_u")).as("se"))
        .select(col("bucket"), col("n_pairs"),
          pround(col("sc").cast("double") / (col("n_pairs") * 16).cast("double"), 4)
            .as("mean_est"),
          pround(col("se").cast("double") / (col("n_pairs") * 160000L).cast("double"), 4)
            .as("mean_abs_err"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH $minhashCandCte,
             $overlapCtes,
             j AS (SELECT i.doc_a, i.doc_b,
                     CAST(FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i))
                       * 10000 + 0.5) AS BIGINT) AS m
                   FROM inter i
                   JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b),
             est AS (SELECT c.doc_a, c.doc_b,
                       ${(0 until 16).map(i =>
                         s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
                         .mkString(" + ")} AS cnt
                     FROM cand c
                     JOIN mh a ON a.doc_id = c.doc_a
                     JOIN mh b ON b.doc_id = c.doc_b),
             p AS (SELECT e.cnt, j.m,
                     LEAST(9, j.m // 1000) AS bucket,
                     ABS(e.cnt * 10000 - 16 * j.m) AS err_u
                   FROM est e JOIN j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b)
             SELECT CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               FLOOR((CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) * 16 AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS mean_est,
               FLOOR((CAST(SUM(err_u) AS DOUBLE) / CAST(COUNT(*) * 160000 AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS mean_abs_err
             FROM p GROUP BY bucket ORDER BY bucket"""))

  /** LSH band-configuration sweep — the (b, r) knob itself, measured.
    * The 16 minhashes support three band shapes: (2 bands × 8 rows)
    * strict, (4 × 4) the production default, (8 × 2) loose; a pair is a
    * candidate iff it agrees on EVERY minhash of some band, so the
    * candidate sets NEST — a (4,4) band agreement implies both its
    * (8,2) sub-bands agree: C(2,8) ⊆ C(4,4) ⊆ C(8,2), and the loose
    * config IS the union. The report is the empirical S-curve every
    * LSH deployment tunes on: per (b, r, exact-Jaccard decile bucket),
    * candidates found and the share of the union's pairs in that bucket
    * — strict configs should vanish at low Jaccard and converge to 1.0
    * at high Jaccard.
    *
    * The sweep runs on a FIXED 500-doc calibration sample (doc_id <
    * 500, the q_simhash_hamming precedent): the loose (8,2) arm is
    * near-quadratic on a shared-vocabulary corpus BY CONSTRUCTION
    * (that explosion is exactly what the curve is measuring), and
    * (b, r) tuning is a sample statistic in production anyway — the
    * chosen config then runs corpus-wide.
    */
  private val lshBandSweep = Q(
    "q_lsh_band_sweep",
    (spark, dir) => {
      val sh = graft.Caches.persisted(
        shingleRel(spark, dir).filter(col("doc_id") < 500))
      val sigs = graft.Caches.persisted(minhashSigs(sh))
      def candsFor(b: Int, r: Int): DataFrame = {
        val bandCols = (0 until b).map(i =>
          concat_ws(",", (0 until r).map(j => col(s"mh${i * r + j}").cast("string")): _*)
            .as(s"b$i"))
        val stacked = sigs.select(col("doc_id") +: bandCols: _*)
          .selectExpr("doc_id",
            s"stack($b, ${(0 until b).map(i => s"$i, b$i").mkString(", ")}) AS (band, sig)")
        stacked.as("a")
          .join(stacked.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      }
      val configs = Seq((2, 8), (4, 4), (8, 2))
      val tagged = configs.map { case (b, r) =>
        candsFor(b, r).select(lit(b).as("b"), lit(r).as("r"),
          col("doc_a"), col("doc_b"))
      }.reduce(_ unionAll _)
      // the union of all three candidate sets IS the loose config
      val jac = graft.Caches.persisted(
        jaccardOf(candsFor(8, 2), sh)
          .select(col("doc_a"), col("doc_b"),
            floor(col("jaccard") * 10000 + 0.5).cast("long").as("m"))
          .select(col("doc_a"), col("doc_b"),
            least(lit(9L), expr("m div 1000")).cast("int").as("bucket")))
      val tot = jac.groupBy(col("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_union"))
      tagged.join(jac, Seq("doc_a", "doc_b"))
        .groupBy(col("b"), col("r"), col("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_cand"))
        .join(tot, "bucket")
        .select(col("b"), col("r"), col("bucket"), col("n_cand"), col("n_union"),
          pround(col("n_cand").cast("double") / col("n_union").cast("double"), 4)
            .as("share"))
        .orderBy(col("b"), col("bucket"))
    },
    Some({
      val win = "(SELECT * FROM documents WHERE doc_id < 500)"
      def bandSql(b: Int, r: Int): String = (0 until b).map { i =>
        val sig = (i * r until i * r + r).map(k => s"CAST(mh$k AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $i AS band, $sig AS sig FROM mh"
      }.mkString(" UNION ALL ")
      s"""WITH ${minhashCandCteFrom(win)},
          b28 AS (${bandSql(2, 8)}),
          c28 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM b28 a JOIN b28 b
                    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          b82 AS (${bandSql(8, 2)}),
          c82 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM b82 a JOIN b82 b
                    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          tagged AS (SELECT 2 AS b, 8 AS r, doc_a, doc_b FROM c28
                     UNION ALL SELECT 4, 4, doc_a, doc_b FROM cand
                     UNION ALL SELECT 8, 2, doc_a, doc_b FROM c82),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                    FROM c82 c
                    JOIN sh x ON x.doc_id = c.doc_a
                    JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
                    GROUP BY c.doc_a, c.doc_b),
          jac AS (SELECT i.doc_a, i.doc_b,
                    LEAST(9, CAST(FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i))
                      * 10000 + 0.5) AS BIGINT) // 1000) AS bucket
                  FROM inter i
                  JOIN sizes sa ON sa.doc_id = i.doc_a
                  JOIN sizes sb ON sb.doc_id = i.doc_b),
          tot AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_union
                  FROM jac GROUP BY bucket),
          found AS (SELECT t.b, t.r, j.bucket, CAST(COUNT(*) AS BIGINT) AS n_cand
                    FROM tagged t
                    JOIN jac j ON j.doc_a = t.doc_a AND j.doc_b = t.doc_b
                    GROUP BY t.b, t.r, j.bucket)
          SELECT f.b, f.r, CAST(f.bucket AS INT) AS bucket, f.n_cand, tot.n_union,
            FLOOR((CAST(f.n_cand AS DOUBLE) / CAST(tot.n_union AS DOUBLE))
              * 10000 + 0.5) / 10000 AS share
          FROM found f JOIN tot ON tot.bucket = f.bucket
          ORDER BY f.b, f.bucket"""
    }))

  /** Boilerplate-prefix census — the C4-style cleaning signal span and
    * chunk dedup both miss: crawled corpora repeat DOCUMENT OPENINGS
    * (navigation headers, cookie banners, license preambles) far more
    * often than whole documents, so the top duplicated 8-token prefixes
    * are the boilerplate-removal worklist. Reported: the top-10 prefixes
    * by document count with their corpus share.
    *
    * Scale posture: one prefix projection (native tokenizer, first 8
    * tokens), one count keyed on the prefix string (uniform content
    * key), one TakeOrdered(10) head, one broadcast 1-row total. The
    * whole-corpus shuffle carries one 8-token string per document.
    */
  private val boilerplatePrefix = Q(
    "q_boilerplate_prefix",
    (spark, dir) => {
      val pre = Tables(spark, dir, "documents")
        .select(TextOps.wordsNative(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(array_join(slice(col("ws"), 1, 8), " ").as("prefix"))
      val tot = broadcast(pre.agg(count(lit(1)).cast("bigint").as("n_total")))
      pre.groupBy(col("prefix"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
        .orderBy(col("n_docs").desc, col("prefix"))
        .limit(10)
        .crossJoin(tot)
        .select(col("prefix"), col("n_docs"), col("n_total"),
          pround(col("n_docs").cast("double") / col("n_total").cast("double"), 4)
            .as("share"))
        .orderBy(col("n_docs").desc, col("prefix"))
    },
    Some("""WITH toks AS (SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            pre AS (SELECT array_to_string(ws[1:8], ' ') AS prefix
                    FROM toks WHERE len(ws) >= 8),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM pre),
            top AS (SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM pre GROUP BY prefix
                    ORDER BY n_docs DESC, prefix LIMIT 10)
            SELECT prefix, n_docs, n_total,
              FLOOR((CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
                * 10000 + 0.5) / 10000 AS share
            FROM top CROSS JOIN tot
            ORDER BY n_docs DESC, prefix"""))

  /** Corpus surgery — the WRITE side of span dedup (Lee et al.'s
    * ExactSubstr deduplication *removes* one copy of each duplicated
    * span and emits the cleaned corpus; PAPERS.md dedup line). Reuses
    * q_span_dedup's detector verbatim — positional 3-gram match over the
    * LSH-bounded candidate pair space, diagonal run-merge into maximal
    * runs ≥ 5 tokens — then applies the greedy keep-first policy: each
    * run is excised from the HIGHER-id document of its pair (the lower
    * id keeps its copy, the q_dedup_exact keep-lowest rule), covered
    * token positions are unioned across all pairs touching a document,
    * and the survivors are re-joined into the scrubbed text. Reported
    * per scrubbed doc: token count before, tokens removed, single-space-
    * joined characters removed, and the md5 fingerprint of the scrubbed
    * text — the content receipt a downstream writer would verify.
    *
    * Scale posture: the pair space is LSH-bounded (never doc × doc), the
    * removed-position relation is linear in duplicated-span mass, the
    * anti-join keys on (doc_id, pos) — uniform, skew-free — and text
    * reassembly is a per-document sort of that document's own surviving
    * tokens (bounded by doc length, embarrassingly parallel). The oracle
    * replays the identical splice: same runs, same position union, same
    * ordered re-join, same md5.
    */
  /** Maximal duplicated runs ≥ 5 tokens over an explicit candidate-pair
    * relation: positional shingle match on both sides of each pair, then
    * the diagonal run-merge. Returns (doc_a, doc_b, diag, grp, j0, span).
    * Shared by the LSH-bounded detector/scrubber and (via
    * [[globalSpanRuns]]' sibling shape) kept here so both read alike.
    */
  /** Merges shingle matches (doc_a, doc_b, diag, i, j) into maximal runs
    * along each diagonal: (doc_a, doc_b, diag, grp, j0, span), span ≥ 5
    * tokens. */
  private def diagonalRuns(m: DataFrame): DataFrame = {
    val byDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("i"))
    m.withColumn("grp", col("i") - row_number().over(byDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("j")).as("j0"), (count(lit(1)) + 2).as("span"))
      .filter(col("span") >= 5)
  }

  private def pairSpanRuns(ps: DataFrame, cand: DataFrame): DataFrame = {
    val m = cand
      .join(ps.select(col("doc_id").as("doc_a"), col("pos").as("i"), col("sh")), "doc_a")
      .join(ps.select(col("doc_id").as("doc_b"), col("pos").as("j"), col("sh")),
        Seq("doc_b", "sh"))
      .select(col("doc_a"), col("doc_b"), (col("i") - col("j")).as("diag"),
        col("i"), col("j"))
    diagonalRuns(m)
  }

  /** GLOBAL maximal duplicated runs — corpus-wide, NOT bounded to LSH
    * candidate pairs (the actual ExactSubstr property, Lee et al.,
    * PAPERS.md dedup line: a 50-token license block shared by two
    * otherwise-unrelated documents never becomes an LSH candidate, and
    * is exactly what this catches). Anchor discipline instead of a
    * suffix array: positional shingles are kept only where the
    * shingle's document frequency is 2..50 — the DISCO df bound
    * q_minhash_recall's truth discovery runs on. df = 1 shingles pair
    * with nobody (the bulk of posting mass); df > 50 shingles are
    * corpus-wide boilerplate whose runs fragment at the common-shingle
    * positions — the documented cap that keeps the self-join linear in
    * duplicated-span mass (× a ≤50 constant) instead of quadratic in
    * any hot shingle's posting list. Within that bound the self-join on
    * the shingle string IS the match relation — no candidate generator,
    * no doc × doc — and the diagonal run-merge is the q_span_dedup one.
    *
    * Exchange shape: ONE upfront repartition on the shingle feeds the
    * df aggregate, the df attach-join, and both sides of the self-join
    * from the same cached partitioning (the q_minhash_recall exchange
    * collapse). Returns (doc_a, doc_b, diag, grp, j0, span), span ≥ 5.
    */
  private[graft] def globalSpanRuns(docs: DataFrame): DataFrame = {
    val rps = graft.Caches.persisted {
      val ps0 = posShingleRelOf(docs).repartition(col("sh"))
      val dfc = ps0.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df").between(2, 50))
        .select(col("sh"))
      ps0.join(dfc, "sh")
    }
    val m = rps.select(col("doc_id").as("doc_a"), col("pos").as("i"), col("sh"))
      .join(rps.select(col("doc_id").as("doc_b"), col("pos").as("j"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), (col("i") - col("j")).as("diag"),
        col("i"), col("j"))
    diagonalRuns(m)
  }

  /** The scrub report over a (doc_b, j0, span) runs relation: union
    * covered positions in the higher-id doc, anti-join survivors,
    * ordered re-join, md5 receipt — shared verbatim by the LSH-bounded
    * and the global scrubber so the splice semantics cannot drift.
    */
  private def scrubReport(docs: DataFrame, runs: DataFrame): DataFrame = {
    // union of covered token positions in the higher-id doc of each pair
    val removed = runs
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("j0"), col("j0") + col("span") - 1)).as("pos"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(TextOps.wordsNative(col("text"))).as(Seq("pos", "w")))
    val kept = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("scrub_text"))
    val rem = removed.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_removed"))
    val nt = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_tokens"))
    val orig = docs.select(col("doc_id"),
      length(array_join(TextOps.wordsNative(col("text")), " ")).as("orig_len"))
    rem.join(nt, "doc_id").join(orig, "doc_id")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("orig_len") - length(coalesce(col("scrub_text"), lit(""))))
          .cast("bigint").as("chars_removed"),
        md5(coalesce(col("scrub_text"), lit(""))).as("scrub_fp"))
      .orderBy(col("doc_id"))
  }

  /** Oracle twin of [[scrubReport]] over the diagonal groups `r` and the
    * tokenized documents `toks`. */
  private val scrubReportSql =
    """runs AS (SELECT doc_b, MIN(j) AS j0, COUNT(*) + 2 AS span
                FROM r GROUP BY doc_a, doc_b, diag, grp
                HAVING COUNT(*) + 2 >= 5),
       rem AS (SELECT DISTINCT doc_b AS doc_id, j0 + u.k AS pos
               FROM runs, UNNEST(generate_series(0, span - 1)) AS u(k)),
       tk AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w
              FROM toks, UNNEST(generate_series(1, len(ws))) AS u(i)),
       kept AS (SELECT t.doc_id, t.pos, t.w FROM tk t
                LEFT JOIN rem x ON x.doc_id = t.doc_id AND x.pos = t.pos
                WHERE x.pos IS NULL),
       sc AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS scrub_text
              FROM kept GROUP BY doc_id),
       nr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
              FROM rem GROUP BY doc_id),
       nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
              FROM tk GROUP BY doc_id),
       orig AS (SELECT doc_id, array_to_string(ws, ' ') AS jt FROM toks)
       SELECT nr.doc_id, nt.n_tokens, nr.n_removed,
         CAST(LENGTH(o.jt) - LENGTH(COALESCE(sc.scrub_text, '')) AS BIGINT)
           AS chars_removed,
         md5(COALESCE(sc.scrub_text, '')) AS scrub_fp
       FROM nr
       JOIN nt ON nt.doc_id = nr.doc_id
       JOIN orig o ON o.doc_id = nr.doc_id
       LEFT JOIN sc ON sc.doc_id = nr.doc_id
       ORDER BY nr.doc_id"""

  private val spanScrub = Q(
    "q_span_scrub",
    (spark, dir) => {
      // one spread scan feeds the positional shingles AND the splice
      val docs = Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents"))
      val runs = pairSpanRuns(posShingleRelOf(docs),
        minhashCandidates(shingleRel(spark, dir)))
      scrubReport(docs, runs)
    },
    Some(s"""WITH $minhashCandCte,
             ps AS (SELECT doc_id, i - 1 AS pos,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                    FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                    WHERE len(ws) >= 3),
             m AS (SELECT c.doc_a, c.doc_b, a.pos - b.pos AS diag,
                     a.pos AS i, b.pos AS j
                   FROM cand c
                   JOIN ps a ON a.doc_id = c.doc_a
                   JOIN ps b ON b.doc_id = c.doc_b AND b.sh = a.sh),
             r AS (SELECT doc_a, doc_b, diag, i, j,
                     i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                       ORDER BY i) AS grp
                   FROM m),
             $scrubReportSql"""))

  /** Shared oracle CTE chain for the GLOBAL span detector: positional
    * shingles → distinct-doc df → rare (2..50) positional postings →
    * self-join match relation → diagonal run-merge groups (`r`). The
    * consumer appends its own `runs` fold.
    */
  private val globalRunsCte: String =
    """toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                FROM documents),
       ps AS (SELECT doc_id, i - 1 AS pos,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
              FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3),
       df AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM ps GROUP BY sh),
       rps AS (SELECT p.doc_id, p.pos, p.sh FROM ps p JOIN df ON df.sh = p.sh
               WHERE df.df BETWEEN 2 AND 50),
       m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos - b.pos AS diag,
               a.pos AS i, b.pos AS j
             FROM rps a JOIN rps b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       r AS (SELECT doc_a, doc_b, diag, i, j,
               i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                 ORDER BY i) AS grp
             FROM m)"""

  /** Global variable-length span dedup — q_span_dedup WITHOUT the LSH
    * candidate bound (the round-9 verdict's one named dedup capability
    * gap): duplicated runs are found corpus-wide via rare-shingle
    * anchors ([[globalSpanRuns]]), so a long span shared by two
    * otherwise-unrelated documents — whole-doc Jaccard far below any
    * banding threshold, the license-block/quotation case ExactSubstr
    * exists for — is caught. Same report as q_span_dedup: per pair, the
    * longest shared run and the number of maximal runs ≥ 5 tokens.
    * Property-tested on exactly the planted case: a cross-doc span
    * whose documents are NOT LSH candidates.
    */
  private val spanDedupGlobal = Q(
    "q_span_dedup_global",
    (spark, dir) =>
      globalSpanRuns(Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("doc_id"), col("text"))))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("span")).cast("bigint").as("longest_span"),
          count(lit(1)).cast("bigint").as("n_spans"))
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $globalRunsCte,
             runs AS (SELECT doc_a, doc_b, COUNT(*) + 2 AS span
                      FROM r GROUP BY doc_a, doc_b, diag, grp
                      HAVING COUNT(*) + 2 >= 5)
             SELECT doc_a, doc_b, CAST(MAX(span) AS BIGINT) AS longest_span,
               CAST(COUNT(*) AS BIGINT) AS n_spans
             FROM runs GROUP BY doc_a, doc_b
             ORDER BY doc_a, doc_b"""))

  /** Global corpus surgery — q_span_scrub's splice driven by the GLOBAL
    * detector instead of the LSH-bounded one: every maximal ≥ 5-token
    * duplicated run found corpus-wide is excised from the higher-id doc
    * of its pair ([[scrubReport]], shared verbatim with q_span_scrub so
    * the splice semantics cannot drift). This is the ExactSubstr
    * write-side at its real coverage: the cleaned corpus no longer
    * carries the cross-doc duplicated span even when the documents
    * never banded together.
    */
  private val spanScrubGlobal = Q(
    "q_span_scrub_global",
    (spark, dir) => {
      // one spread scan feeds the global detector AND the splice
      val docs = Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents"))
      scrubReport(docs, globalSpanRuns(docs))
    },
    Some(s"""WITH $globalRunsCte,
             $scrubReportSql"""))

  /** Span-detector coverage audit — the capability-gap MEASUREMENT for
    * the global detector: of all document pairs carrying a ≥ 5-token
    * duplicated run, how many does each detector arm see. n_global_only
    * is the count of pairs the LSH-bounded detector (q_span_dedup)
    * structurally cannot find — duplicated spans between documents whose
    * whole-doc Jaccard never bands them together (37 global vs 24 LSH
    * pairs at sf0.01); n_lsh_only counts pairs whose runs the global
    * rare-anchor path fragments (df > 50 boilerplate interiors — the
    * documented bound, 0 on these fixtures). One bounded full-outer join
    * of two pair sets, 1-row output: the dashboard row that says whether
    * LSH-bounded span dedup is leaving duplicate mass on the table.
    */
  private val spanCoverage = Q(
    "q_span_coverage",
    (spark, dir) => {
      // one spread scan feeds both detector arms' shingle passes
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val lshPairs = pairSpanRuns(posShingleRelOf(docs),
        minhashCandidates(shingleRelOf(docs)))
        .select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("l", lit(1))
      val globalPairs = globalSpanRuns(docs)
        .select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("g", lit(1))
      lshPairs.join(globalPairs, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          count(col("l")).cast("bigint").as("n_lsh"),
          count(col("g")).cast("bigint").as("n_global"),
          sum(when(col("l").isNotNull && col("g").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_both"),
          sum(when(col("l").isNull, 1L).otherwise(0L))
            .cast("bigint").as("n_global_only"),
          sum(when(col("g").isNull, 1L).otherwise(0L))
            .cast("bigint").as("n_lsh_only"))
    },
    Some(s"""WITH $minhashCandCte,
             pps AS (SELECT doc_id, i - 1 AS pos,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                     FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                     WHERE len(ws) >= 3),
             lm AS (SELECT c.doc_a, c.doc_b, a.pos - b.pos AS diag, a.pos AS i
                    FROM cand c
                    JOIN pps a ON a.doc_id = c.doc_a
                    JOIN pps b ON b.doc_id = c.doc_b AND b.sh = a.sh),
             lr AS (SELECT doc_a, doc_b, diag,
                      i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                        ORDER BY i) AS grp
                    FROM lm),
             lpairs AS (SELECT DISTINCT doc_a, doc_b FROM
                          (SELECT doc_a, doc_b FROM lr
                           GROUP BY doc_a, doc_b, diag, grp
                           HAVING COUNT(*) + 2 >= 5)),
             gdf AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM pps GROUP BY sh),
             rps AS (SELECT p.doc_id, p.pos, p.sh FROM pps p JOIN gdf ON gdf.sh = p.sh
                     WHERE gdf.df BETWEEN 2 AND 50),
             gm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.pos - b.pos AS diag, a.pos AS i
                    FROM rps a JOIN rps b ON a.sh = b.sh AND a.doc_id < b.doc_id),
             gr AS (SELECT doc_a, doc_b, diag,
                      i - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                        ORDER BY i) AS grp
                    FROM gm),
             gpairs AS (SELECT DISTINCT doc_a, doc_b FROM
                          (SELECT doc_a, doc_b FROM gr
                           GROUP BY doc_a, doc_b, diag, grp
                           HAVING COUNT(*) + 2 >= 5)),
             j AS (SELECT l.doc_a AS la, g.doc_a AS ga
                   FROM lpairs l FULL OUTER JOIN gpairs g
                     ON g.doc_a = l.doc_a AND g.doc_b = l.doc_b)
             SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(la) AS BIGINT) AS n_lsh,
               CAST(COUNT(ga) AS BIGINT) AS n_global,
               CAST(SUM(CASE WHEN la IS NOT NULL AND ga IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN la IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_global_only,
               CAST(SUM(CASE WHEN ga IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_lsh_only
             FROM j"""))

  /** SimHash Hamming near-dup join — the pigeonhole multi-index of Manku
    * et al., "Detecting Near-Duplicates for Web Crawling" (WWW'07;
    * PAPERS.md dedup line): split the 32-bit signature (all 32 md5 hex
    * positions — the 16-bit q_dedup_simhash signature has only 2^16
    * values, so its band buckets grow with the corpus and the pair
    * space goes quadratic: measured 21 s at sf0.1 before widening, ~1 s
    * after) into 4 bands of 8 bits; any pair
    * within Hamming distance ≤ 3 differs in at most 3 bands, so it MUST
    * agree exactly on at least one band — the banded
    * equi-join finds every such pair with zero misses (a guarantee, not
    * a probability: this is what separates the simhash index from
    * minhash-LSH's probabilistic bands). Candidates are then verified
    * with the exact 32-position Hamming count; the report is the bounded
    * distance histogram (pairs and distinct left docs per distance ≤ 3)
    * — the pair LIST itself is unbounded output, while the histogram
    * stays 4 rows at any scale (the production knob is a 64-bit
    * signature and more band tables, same shape).
    *
    * Scale posture: the shuffle keys on (band, bits) — content-derived
    * and uniform; per-bucket fan-in is the corpus' signature collision
    * rate, tuned by band width exactly as in production simhash indexes
    * (64-bit sigs, 4–6 tables). Completeness is property-tested against
    * the naive all-pairs Hamming scan.
    */
  private val simhashHamming = Q(
    "q_simhash_hamming",
    (spark, dir) => {
      // Fixed 500-document window (the q_dedup_ngram exact-verifier
      // precedent): on THIS corpus the operator is corpus-quadratic BY
      // DATA, not by plan — every document draws from one shared
      // vocabulary, so signatures concentrate around the corpus mean and
      // ~28% of ALL pairs sit within Hamming 3 (measured; 4041 distinct
      // sigs across 5000 docs at sf0.1). No index can bound an output
      // that IS quadratic. On natural corpora signatures spread and the
      // same banded join is the standard near-linear simhash index; the
      // production knobs are 64-bit signatures and more band tables.
      val s = graft.Caches.persisted(
        simhashSigs(spark, dir, width = 32).filter(col("doc_id") < 500))
      val bands = s.select(col("doc_id"), col("simhash32"),
          explode(expr("sequence(0, 3)")).as("b"))
        .select(col("doc_id"), col("simhash32"), col("b"),
          expr("substring(simhash32, b * 8 + 1, 8)").as("bits"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.b") === col("b.b") && col("a.bits") === col("b.bits") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash32").as("sa"), col("b.simhash32").as("sb"))
        .distinct()
      val ham = (1 to 32).map(i =>
        when(substring(col("sa"), i, 1) =!= substring(col("sb"), i, 1), 1).otherwise(0))
        .reduce(_ + _)
      cand.select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_a")).cast("bigint").as("n_left_docs"))
        .orderBy(col("hamming"))
    },
    Some(s"""WITH ${simhashSigCte(32)},
             bands AS (SELECT doc_id, s, b, substr(s, b * 8 + 1, 8) AS bits
                       FROM sig, UNNEST(generate_series(0, 3)) AS t(b)
                       WHERE doc_id < 500),
             cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.s AS sa, b.s AS sb
                      FROM bands a JOIN bands b
                        ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id),
             h AS (SELECT doc_a, doc_b,
                     ${(1 to 32).map(i =>
                       s"CASE WHEN substr(sa, $i, 1) <> substr(sb, $i, 1) THEN 1 ELSE 0 END")
                       .mkString(" + ")} AS hamming
                   FROM cand)
             SELECT CAST(hamming AS INT) AS hamming,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_left_docs
             FROM h WHERE hamming <= 3
             GROUP BY hamming ORDER BY hamming"""))

  /** b-bit minwise hashing calibration (Li & König, WWW'10 / CACM'11) —
    * the signature-COMPRESSION story for the minhash stack: production
    * systems keep only the lowest b bits of each minhash (b=1 stores the
    * 16-hash signature in 2 bytes instead of 120), paying for it with
    * accidental low-bit collisions that inflate the raw match fraction.
    * Over the standard LSH candidate pairs this measures exactly that
    * price: per b ∈ {1, 2, 4} plus the full 60-bit hash (b=60), the mean
    * absolute error of the raw b-bit match-fraction estimator
    * (matched/16) against exact shingle Jaccard. The whole funnel is
    * exact integers (house rule): per-pair error =
    * |matched·u − 16·i| · 10⁶ div (16·u) with i = intersection,
    * u = union from the shingle sets; one division at the very end turns
    * the summed µunits into the reported mean.
    *
    * Scale posture (100 TB): ONE persisted signature pass feeds both the
    * banded candidate join and the per-pair match columns (the
    * q_minhash_est_error discipline); exact i comes from the candidate ×
    * shingle equi-joins (pair space LSH-bounded, never doc×doc); the
    * 4-row result stacks out of a single no-key aggregate.
    */
  private val bbitMinhash = Q(
    "q_bbit_minhash",
    (spark, dir) => {
      val sh = graft.Caches.persisted(shingleRel(spark, dir))
      val sigs = graft.Caches.persisted(minhashSigs(sh))
      val cand = minhashCandidatesFromSigs(sigs)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("i"))
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 16).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 16).map(i => col(s"mh$i").as(s"b$i")): _*)
      def matched(mask: Long) = (0 until 16).map(i =>
        when((col(s"a$i").bitwiseXOR(col(s"b$i"))
          .bitwiseAND(lit(mask))) === 0L, 1L).otherwise(0L)).reduce(_ + _)
      val full = (1L << 60) - 1
      val pairs = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .join(sa, "doc_a").join(sb, "doc_b")
        .select(col("i"), (col("na") + col("nb") - col("i")).as("u"),
          matched(1L).as("m1"), matched(3L).as("m2"),
          matched(15L).as("m4"), matched(full).as("m60"))
      def errU(m: String) =
        expr(s"(abs($m * u - 16 * i) * 1000000) div (16 * u)")
      pairs
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          coalesce(sum(errU("m1")), lit(0L)).as("e1"),
          coalesce(sum(errU("m2")), lit(0L)).as("e2"),
          coalesce(sum(errU("m4")), lit(0L)).as("e4"),
          coalesce(sum(errU("m60")), lit(0L)).as("e60"))
        .selectExpr("stack(4, 1, e1, 2, e2, 4, e4, 60, e60) AS (b, sum_abs_err_u)",
          "n_pairs")
        .select(col("b").cast("int").as("b"), col("n_pairs"),
          col("sum_abs_err_u").cast("bigint").as("sum_abs_err_u"),
          when(col("n_pairs") === 0, lit(null).cast("double"))
            .otherwise(pround(col("sum_abs_err_u").cast("double") /
              col("n_pairs").cast("double") / 1e6, 6)).as("mean_abs_err"))
        .orderBy(col("b"))
    },
    Some {
      def m(mask: Long) = (0 until 16).map(i =>
        s"CASE WHEN (xor(a.mh$i, b.mh$i) & $mask) = 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      val full = (1L << 60) - 1
      s"""WITH $minhashCandCte,
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                    FROM cand c
                    JOIN sh x ON x.doc_id = c.doc_a
                    JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
                    GROUP BY c.doc_a, c.doc_b),
          pairs AS (SELECT i.i, sa.n + sb.n - i.i AS u,
                      ${m(1L)} AS m1, ${m(3L)} AS m2,
                      ${m(15L)} AS m4, ${m(full)} AS m60
                    FROM inter i
                    JOIN sizes sa ON sa.doc_id = i.doc_a
                    JOIN sizes sb ON sb.doc_id = i.doc_b
                    JOIN mh a ON a.doc_id = i.doc_a
                    JOIN mh b ON b.doc_id = i.doc_b),
          agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                    COALESCE(SUM((ABS(m1 * u - 16 * i) * 1000000) // (16 * u)), 0) AS e1,
                    COALESCE(SUM((ABS(m2 * u - 16 * i) * 1000000) // (16 * u)), 0) AS e2,
                    COALESCE(SUM((ABS(m4 * u - 16 * i) * 1000000) // (16 * u)), 0) AS e4,
                    COALESCE(SUM((ABS(m60 * u - 16 * i) * 1000000) // (16 * u)), 0) AS e60
                  FROM pairs),
          s AS (SELECT 1 AS b, e1 AS sum_abs_err_u, n_pairs FROM agg
                UNION ALL SELECT 2, e2, n_pairs FROM agg
                UNION ALL SELECT 4, e4, n_pairs FROM agg
                UNION ALL SELECT 60, e60, n_pairs FROM agg)
          SELECT CAST(b AS INT) AS b, n_pairs,
            CAST(sum_abs_err_u AS BIGINT) AS sum_abs_err_u,
            CASE WHEN n_pairs = 0 THEN NULL
                 ELSE FLOOR((CAST(sum_abs_err_u AS DOUBLE) /
                   CAST(n_pairs AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000
            END AS mean_abs_err
          FROM s ORDER BY b"""
    })

  /** Dedup SURVIVORSHIP — the mixture-shift audit run after every dedup
    * pass: exact dedup (content-hash keep-first, the q_dedup_exact rule)
    * does not remove documents uniformly, so the POST-dedup language mix
    * differs from the pre-dedup mix (the CCNet/C4 observation: heavily
    * duplicated boilerplate concentrates in particular slices, and
    * removing it shifts what the model trains on). Per language: docs
    * before, docs kept, corpus share before and after in exact ppm, and
    * the shift — the number a data-mix owner checks before re-balancing
    * (q_mixture_weights consumes exactly this table at 100 TB).
    *
    * Scale posture: one md5 projection, one content-hash groupBy for the
    * keeper (hash-partitioned), one id equi-join back, bounded per-lang
    * rollup with two 1-row broadcast totals.
    */
  private val dedupSurvivorship = Q(
    "q_dedup_survivorship",
    (spark, dir) => {
      val d = Tables(spark, dir, "documents")
        .select(col("lang"), col("doc_id"), md5(col("text")).as("h"))
      val keeper = d.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
      val flagged = d.join(keeper, "h")
        .select(col("lang"),
          when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("kept"))
      val per = flagged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      val tot = broadcast(per.agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("nb"),
        coalesce(sum(col("n_kept")), lit(0L)).as("na")))
      per.crossJoin(tot)
        .select(col("lang"), col("n_docs").cast("bigint").as("n_docs"),
          col("n_kept").cast("bigint").as("n_kept"),
          expr("n_docs * 1000000 div nb").cast("bigint").as("share_before_ppm"),
          expr("n_kept * 1000000 div na").cast("bigint").as("share_after_ppm"),
          (expr("n_kept * 1000000 div na") - expr("n_docs * 1000000 div nb"))
            .cast("bigint").as("shift_ppm"))
        .orderBy(col("lang"))
    },
    Some("""WITH d AS (SELECT lang, doc_id, md5(text) AS h FROM documents),
            keeper AS (SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h),
            flagged AS (SELECT d.lang,
                          CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS kept
                        FROM d JOIN keeper k ON k.h = d.h),
            per AS (SELECT lang, COUNT(*) AS n_docs, SUM(kept) AS n_kept
                    FROM flagged GROUP BY lang),
            tot AS (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS nb,
                      CAST(COALESCE(SUM(n_kept), 0) AS BIGINT) AS na FROM per)
            SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
              CAST(n_kept AS BIGINT) AS n_kept,
              CAST(n_docs * 1000000 // nb AS BIGINT) AS share_before_ppm,
              CAST(n_kept * 1000000 // na AS BIGINT) AS share_after_ppm,
              CAST(n_kept * 1000000 // na - n_docs * 1000000 // nb AS BIGINT)
                AS shift_ppm
            FROM per CROSS JOIN tot ORDER BY lang"""))

  /** (doc_id, bandkey, mh0..mh15): each of the 4 LSH bands as a single
    * string key `"b:sig"` carrying the full 16-value signature alongside —
    * the DENORMALIZED signature-store row. Carrying the signature on the
    * band row is what lets band candidates verify the estimated Jaccard
    * (matched minhashes / 16) inside the band join itself, with no second
    * join back to the base corpus — the store-resident verification an
    * incremental pipeline needs.
    */
  private[graft] def bandKeyed(sigs: DataFrame): DataFrame = {
    val bks = (0 until 4).map { b =>
      concat(lit(s"$b:"),
        concat_ws(",",
          (b * 4 until b * 4 + 4).map(i => col(s"mh$i").cast("string")): _*)).as(s"bk$b")
    }
    val mhs = (0 until 16).map(i => s"mh$i")
    sigs.select(col("doc_id") +: (bks ++ mhs.map(col)): _*)
      .selectExpr(Seq("stack(4, bk0, bk1, bk2, bk3) AS bandkey", "doc_id") ++ mhs: _*)
  }

  /** DuckDB chain replaying [[bandKeyed]] ∘ [[minhashSigs]] ∘ shingles over
    * `src`, producing `{p}bands(doc_id, bandkey, mh0..mh15)`.
    */
  private[graft] def bandKeyedCteFrom(src: String, p: String): String = {
    val mhCols = minhashSeeds.zipWithIndex
      .map { case (k, i) => s"MIN(xor(x, $k)) AS mh$i" }.mkString(", ")
    val all16 = (0 until 16).map(i => s"mh$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val sig = (b * 4 until b * 4 + 4).map(i => s"CAST(mh$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, '$b:' || $sig AS bandkey, $all16 FROM ${p}mh"
    }.mkString(" UNION ALL ")
    s"""${p}toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                     FROM $src),
        ${p}sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
               FROM ${p}toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
               WHERE len(ws) >= 3),
        ${p}xs AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS x
                   FROM ${p}sh),
        ${p}mh AS (SELECT doc_id, $mhCols FROM ${p}xs GROUP BY doc_id),
        ${p}bands AS ($bandSelects)"""
  }

  /** Cross-snapshot INCREMENTAL dedup — the production loop every corpus
    * engineer asks for after the batch pass works: last night's crawl
    * delta (doc_id ≡ 0 mod 10, ~10% of documents) is deduped against the
    * EXISTING corpus (the other 90%) WITHOUT re-scanning the base
    * corpus. The base is represented by a persisted signature store,
    * built once per session ([[StoreOnce]]) and written via the
    * q_bucketed_join bucketed sink (8 buckets, sorted, external parquet):
    *
    *   - `exact` store: (doc_id, h=md5(text)) bucketed on h;
    *   - `bands` store: [[bandKeyed]] rows bucketed on bandkey — each
    *     band row carries the full 16-minhash signature.
    *
    * The delta then runs two channels, each a join whose STORE side
    * rides the stored bucket layout with zero exchange (plan-pinned;
    * the only exchanges hash the DELTA-derived relations into the 8
    * store buckets — the work scales with delta mass, not corpus mass):
    *
    *   - exact: delta md5 hits against the store, plus within-delta
    *     keep-first (earlier delta id wins); one row per duplicated
    *     delta doc with its lowest-id match, arrival-order semantics
    *     (a delta doc duplicating ANY base doc is the duplicate
    *     regardless of id order — the base is the established corpus);
    *   - near: delta band keys hit store band keys; the estimated
    *     Jaccard (matched minhashes / 16, exact integer basis points ×
    *     625) is verified ≥ 0.5 IN the band join from the denormalized
    *     signatures — exact shingle Jaccard would require re-reading
    *     base text, which is precisely what an incremental pass must
    *     not do (q_minhash_est_error quantifies this estimator's error;
    *     the estimate is monotone-correct for the keep/drop decision at
    *     the band threshold). Exact-equal pairs stay in the exact
    *     channel (anti-join).
    *
    * The merge hint on the store side keeps the demonstration honest at
    * test scale (the stores would otherwise broadcast — right in
    * production for a small store, but then nothing would prove the
    * bucket layout lines up; the q_bucketed_join note). The DuckDB
    * oracle replays store+delta as pure CTEs — the store contents ARE
    * the base relations, so the replay is exact.
    */
  private val dedupIncremental = Q(
    "q_dedup_incremental",
    (spark, dir) => {
      val ws = Stores(spark, dir, "incstore")
      val exactT = ws.table("inc_exact")
      val bandsT = ws.table("inc_bands")
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      StoreOnce(ws.dir) {
        Stores.create(base.select(col("doc_id"), md5(col("text")).as("h")),
          exactT, ws.path("exact"), Some("h"))
        Stores.create(bandKeyed(minhashSigs(shingleRelOf(base))),
          bandsT, ws.path("bands"), Some("bandkey"))
      }
      val storeExact = spark.table(exactT).select(col("doc_id").as("m"), col("h"))
      val storeBands = spark.table(bandsT).select(
        col("doc_id").as("m") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i")): _*)
      val dExact = graft.Caches.persisted(
        delta.select(col("doc_id").as("d"), md5(col("text")).as("h")))
      val dBandsRaw = graft.Caches.persisted(
        bandKeyed(minhashSigs(shingleRelOf(delta))))
      val dBands = dBandsRaw.select(
        col("doc_id").as("d") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i").as(s"dm$i")): _*)
      val dAsStore = dBandsRaw.select(
        col("doc_id").as("m") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i")): _*)
      // persisted: consumed by BOTH the exact channel and the near
      // channel's anti-join — without the boundary the store-side merge
      // join would re-execute (a second store scan + delta exchange)
      val exactPairs = graft.Caches.persisted(
        dExact.join(storeExact.hint("merge"), "h")
          .select(col("d"), col("m"))
          .unionAll(dExact.as("x").join(dExact.as("y"),
            col("x.h") === col("y.h") && col("y.d") < col("x.d"))
            .select(col("x.d").as("d"), col("y.d").as("m"))))
      val exact = exactPairs.groupBy(col("d"))
        .agg(min(col("m")).as("match_doc"))
        .select(col("d").as("doc_id"), lit("exact").as("kind"),
          col("match_doc").cast("bigint").as("match_doc"),
          lit(10000L).as("est_bp"))
      val mm = (0 until 16).map(i =>
        when(col(s"dm$i") === col(s"mh$i"), 1L).otherwise(0L)).reduce(_ + _)
      val npairs = dBands.join(storeBands.hint("merge"), "bandkey")
        .unionAll(dBands.join(dAsStore, "bandkey").filter(col("m") < col("d")))
        .select(col("d"), col("m"), mm.as("mm"))
        .distinct()
      val near = npairs.filter(col("mm") >= 8)
        .join(exactPairs.select(col("d").as("ed"), col("m").as("em")),
          col("d") === col("ed") && col("m") === col("em"), "left_anti")
        .select(col("d").as("doc_id"), lit("near").as("kind"),
          col("m").cast("bigint").as("match_doc"),
          (col("mm") * 625L).cast("bigint").as("est_bp"))
      exact.unionAll(near)
        .orderBy(col("doc_id"), col("kind"), col("match_doc"))
    },
    Some {
      val mmE = (0 until 16).map(i =>
        s"CASE WHEN d.mh$i = s.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          bh AS (SELECT doc_id, md5(text) AS h FROM base),
          deh AS (SELECT doc_id, md5(text) AS h FROM delta),
          epairs AS (SELECT d.doc_id AS d, b.doc_id AS m
                     FROM deh d JOIN bh b ON d.h = b.h
                     UNION ALL
                     SELECT x.doc_id, y.doc_id
                     FROM deh x JOIN deh y ON x.h = y.h AND y.doc_id < x.doc_id),
          exact AS (SELECT d AS doc_id, 'exact' AS kind,
                      CAST(MIN(m) AS BIGINT) AS match_doc,
                      CAST(10000 AS BIGINT) AS est_bp
                    FROM epairs GROUP BY d),
          ${bandKeyedCteFrom("base", "b")},
          ${bandKeyedCteFrom("delta", "d")},
          ncand AS (SELECT d.doc_id AS d, s.doc_id AS m, $mmE AS mm
                    FROM dbands d JOIN bbands s ON d.bandkey = s.bandkey
                    UNION ALL
                    SELECT d.doc_id, s.doc_id, $mmE
                    FROM dbands d JOIN dbands s
                      ON d.bandkey = s.bandkey AND s.doc_id < d.doc_id),
          npairs AS (SELECT DISTINCT d, m, mm FROM ncand),
          near AS (SELECT n.d AS doc_id, 'near' AS kind,
                     CAST(n.m AS BIGINT) AS match_doc,
                     CAST(n.mm * 625 AS BIGINT) AS est_bp
                   FROM npairs n
                   WHERE n.mm >= 8
                     AND NOT EXISTS (SELECT 1 FROM epairs e
                                     WHERE e.d = n.d AND e.m = n.m))
          SELECT doc_id, kind, match_doc, est_bp FROM exact
          UNION ALL SELECT doc_id, kind, match_doc, est_bp FROM near
          ORDER BY doc_id, kind, match_doc"""
    })

  /** q_store_append's catalog table: the vintage-PARTITIONED, bandkey-
    * bucketed band-signature store.
    */
  private[graft] def bandStoreTable(spark: SparkSession, dir: String): String =
    Stores(spark, dir, "incstore2").table("inc2_bands")

  /** The day-2 band-signature append, re-runnable: a [[VintageWrite]]
    * dynamic overwrite of vintage=delta1 (append-twice ≡ append-once —
    * the Round13PropertiesSpec restart-safety property).
    */
  private[graft] def bandStoreAppendDelta1(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.spreadIfUnderSplitAtScale(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
    VintageWrite(
      bandKeyed(minhashSigs(shingleRelOf(docs.filter(col("doc_id") % 10 === 1))))
        .withColumn("vintage", lit("delta1")),
      bandStoreTable(spark, dir))
  }

  /** Day-2 of the incremental loop — signature-store MAINTENANCE:
    * q_dedup_incremental proved a delta dedups against a bucketed store
    * without re-scanning base text; this query proves the store GROWS
    * correctly AND survives a day-2 re-run. The base corpus's band
    * signatures persist once (8 buckets on bandkey under a vintage
    * partition — the same sink), yesterday's delta (doc_id ≡ 1 mod 10)
    * lands as a [[VintageWrite]] dynamic overwrite of its vintage
    * partition — one bucket-file set per vintage, never a base rewrite,
    * and IDEMPOTENT under job restart (a bare append would double the
    * delta's signatures on re-run; the overwrite rewrites exactly
    * vintage=delta1) — and today's delta (≡ 0) dedups against the GROWN
    * store. The match_vintage column attributes every hit to base /
    * delta1 / within-delta2, so a live append is visible in the output
    * (a delta1 hit can only exist if the appended files are read), and
    * the within-today self-check keeps arrival-order semantics.
    *
    * Scale posture: identical to q_dedup_incremental — the grown store
    * rides the stored bucket layout with zero store-side exchange
    * (plan-pinned); append cost is one signature pass over yesterday's
    * delta; nothing ever rewrites or re-shuffles the base signatures.
    */
  private val storeAppend = Q(
    "q_store_append",
    (spark, dir) => {
      val ws = Stores(spark, dir, "incstore2")
      val bandsT = bandStoreTable(spark, dir)
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val base = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 1)
      val delta1 = docs.filter(col("doc_id") % 10 === 1)
      val delta2 = docs.filter(col("doc_id") % 10 === 0)
      StoreOnce(ws.dir) {
        Stores.create(bandKeyed(minhashSigs(shingleRelOf(base)))
            .withColumn("vintage", lit("base")),
          bandsT, ws.path("bands"), Some("bandkey"), Stores.Vintage)
        // the nightly append: yesterday's signatures land as a DYNAMIC
        // overwrite of their vintage partition — re-runnable after a
        // mid-write failure without double-appending (VintageWrite)
        bandStoreAppendDelta1(spark, dir)
      }
      val store = spark.table(bandsT).select(
        col("doc_id").as("m") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i")): _*)
      val dBandsRaw = graft.Caches.persisted(
        bandKeyed(minhashSigs(shingleRelOf(delta2))))
      val dBands = dBandsRaw.select(
        col("doc_id").as("d") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i").as(s"dm$i")): _*)
      val dAsStore = dBandsRaw.select(
        col("doc_id").as("m") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i")): _*)
      val mm = (0 until 16).map(i =>
        when(col(s"dm$i") === col(s"mh$i"), 1L).otherwise(0L)).reduce(_ + _)
      dBands.join(store.hint("merge"), "bandkey")
        .unionAll(dBands.join(dAsStore, "bandkey").filter(col("m") < col("d")))
        .select(col("d"), col("m"), mm.as("mm"))
        .distinct()
        .filter(col("mm") >= 8)
        .select(col("d").cast("bigint").as("doc_id"),
          col("m").cast("bigint").as("match_doc"),
          when(col("m") % 10 === 0, lit("delta2"))
            .when(col("m") % 10 === 1, lit("delta1"))
            .otherwise(lit("base")).as("match_vintage"),
          (col("mm") * 625L).cast("bigint").as("est_bp"))
        .orderBy(col("doc_id"), col("match_doc"))
    },
    Some {
      val mmE = (0 until 16).map(i =>
        s"CASE WHEN d.mh$i = s.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH grown AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          ${bandKeyedCteFrom("grown", "g")},
          ${bandKeyedCteFrom("delta", "d")},
          ncand AS (SELECT d.doc_id AS dd, s.doc_id AS m, $mmE AS mm
                    FROM dbands d JOIN gbands s ON d.bandkey = s.bandkey
                    UNION ALL
                    SELECT d.doc_id, s.doc_id, $mmE
                    FROM dbands d JOIN dbands s
                      ON d.bandkey = s.bandkey AND s.doc_id < d.doc_id),
          npairs AS (SELECT DISTINCT dd, m, mm FROM ncand)
          SELECT CAST(dd AS BIGINT) AS doc_id, CAST(m AS BIGINT) AS match_doc,
            CASE WHEN m % 10 = 0 THEN 'delta2'
                 WHEN m % 10 = 1 THEN 'delta1' ELSE 'base' END AS match_vintage,
            CAST(mm * 625 AS BIGINT) AS est_bp
          FROM npairs WHERE mm >= 8
          ORDER BY doc_id, match_doc"""
    })

  /** q_store_delete's two catalog tables: the full signature store and
    * its post-deletion rewrite. */
  private[graft] def delStoreTables(spark: SparkSession, dir: String): (String, String) = {
    val ws = Stores(spark, dir, "delstore")
    (ws.table("del_bands"), ws.table("del_bands_v2"))
  }

  /** DELETION from the persisted signature store — the missing third
    * verb of the store lifecycle (create / append / DELETE), and the
    * GDPR path ON THE INDEX: purging a document from the corpus is not
    * enough if its minhash signatures keep matching future deltas
    * against it. The store (band signatures of all non-today docs,
    * 8 buckets on bandkey — the q_dedup_incremental sink) takes a
    * deletion request (doc_id ≡ 5 mod 10): the request-sized id set
    * BROADCASTS onto a store anti-join and the surviving rows rewrite
    * under the SAME bucket layout, so every later probe still rides the
    * stored buckets with zero store-side exchange (plan-pinned on the
    * post-delete table). Today's delta (≡ 0) probes BOTH stores; the
    * phase column makes the deletion visible in the output — a `pre`
    * match against a purged doc has no `post` twin (property-tested on
    * a planted corpus where the probe's only near-dup IS the purged
    * doc).
    *
    * Scale posture: deletion cost is one store scan + broadcast
    * anti-join + bucketed rewrite (no shuffle of the store on its key —
    * the GDPR request is bounded); the probes are the plan-pinned
    * bucketed band joins, cost ∝ delta mass. The sketch stores are
    * deliberately NON-invertible (HLL registers and Bloom bits cannot
    * forget a key — see the q_hll_store / q_bloom_store notes);
    * q_theta_diff's A-NOT-B sampling is the documented escape hatch for
    * deletion-aware distinct estimates.
    */
  private val storeDelete = Q(
    "q_store_delete",
    (spark, dir) => {
      val ws = Stores(spark, dir, "delstore")
      val (bandsT, bandsT2) = delStoreTables(spark, dir)
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      StoreOnce(ws.dir) {
        Stores.create(bandKeyed(minhashSigs(shingleRelOf(base))),
          bandsT, ws.path("bands"), Some("bandkey"))
        // the deletion request: purge doc_id ≡ 5 (mod 10) — anti-join
        // rewrite preserving the bucket layout; the request id set is
        // bounded and broadcasts
        val delIds = broadcast(
          base.filter(col("doc_id") % 10 === 5).select(col("doc_id")))
        Stores.create(spark.table(bandsT).join(delIds, Seq("doc_id"), "left_anti"),
          bandsT2, ws.path("bands_v2"), Some("bandkey"))
      }
      val dBandsRaw = graft.Caches.persisted(
        bandKeyed(minhashSigs(shingleRelOf(docs.filter(col("doc_id") % 10 === 0)))))
      val dBands = dBandsRaw.select(
        col("doc_id").as("d") +: col("bandkey") +:
          (0 until 16).map(i => col(s"mh$i").as(s"dm$i")): _*)
      val mm = (0 until 16).map(i =>
        when(col(s"dm$i") === col(s"mh$i"), 1L).otherwise(0L)).reduce(_ + _)
      def probe(table: String, phase: String): DataFrame = {
        val store = spark.table(table).select(
          col("doc_id").as("m") +: col("bandkey") +:
            (0 until 16).map(i => col(s"mh$i")): _*)
        dBands.join(store.hint("merge"), "bandkey")
          .select(col("d"), col("m"), mm.as("mm"))
          .distinct()
          .filter(col("mm") >= 8)
          .select(lit(phase).as("phase"), col("d").cast("bigint").as("doc_id"),
            col("m").cast("bigint").as("match_doc"),
            (col("mm") * 625L).cast("bigint").as("est_bp"))
      }
      probe(bandsT, "pre").unionAll(probe(bandsT2, "post"))
        .orderBy(col("phase"), col("doc_id"), col("match_doc"))
    },
    Some {
      val mmE = (0 until 16).map(i =>
        s"CASE WHEN d.mh$i = s.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          ${bandKeyedCteFrom("base", "b")},
          ${bandKeyedCteFrom("delta", "d")},
          cand AS (SELECT 'pre' AS phase, d.doc_id AS dd, s.doc_id AS m, $mmE AS mm
                   FROM dbands d JOIN bbands s ON d.bandkey = s.bandkey
                   UNION ALL
                   SELECT 'post', d.doc_id, s.doc_id, $mmE
                   FROM dbands d JOIN bbands s
                     ON d.bandkey = s.bandkey AND s.doc_id % 10 <> 5),
          u AS (SELECT DISTINCT phase, dd, m, mm FROM cand)
          SELECT phase, CAST(dd AS BIGINT) AS doc_id,
            CAST(m AS BIGINT) AS match_doc,
            CAST(mm * 625 AS BIGINT) AS est_bp
          FROM u WHERE mm >= 8
          ORDER BY phase, doc_id, match_doc"""
    })

  /** Content-defined chunking (LBFS/FastCDC lineage: Muthitacharoen et
    * al. 2001) — the storage-dedup primitive q_chunk_dedup's FIXED
    * 32-token windows cannot provide: fixed windows shift after any
    * insertion and every downstream chunk changes, while CDC cuts at
    * content-derived positions (here: tokens whose hash60 ≡ 0 mod 16,
    * expected chunk length 16 tokens), so an edit only re-chunks its
    * own neighborhood. Per source: chunk census, distinct chunks,
    * cross-document duplicate chunks (the dedup-hit mass), exact mean
    * chunk length in centi-tokens.
    *
    * Scale posture: the boundary flag and running chunk-id are one
    * posexplode + one per-document window (documents are bounded, the
    * partition key is doc_id); chunk text reassembles in the SAME
    * aggregation that hashes it; the census is partial+final over
    * chunk hashes.
    */
  private val cdcChunking = Q(
    "q_cdc_chunking",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents")
            .select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"),
          posexplode(graft.functions.TextOps.wordsNative(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
      val flagged = toks.withColumn("f",
        when(graft.functions.Portable.hash60(col("w")) % 16 === 0, 1L).otherwise(0L))
      val cids = flagged.withColumn("cid",
        sum(col("f")).over(Window.partitionBy(col("doc_id")).orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val chunks = graft.Caches.persisted(
        cids.groupBy(col("doc_id"), col("source"), col("cid"))
          .agg(count(lit(1)).as("len"),
            md5(concat_ws(" ",
              transform(sort_array(collect_list(struct(col("p"), col("w")))),
                x => x.getField("w")))).as("ch")))
      val dup = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("ch").as("dch"))
      chunks.join(broadcast(dup), col("ch") === col("dch"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_chunks"),
          countDistinct(col("ch")).cast("bigint").as("n_distinct"),
          count_if(col("dch").isNotNull).cast("bigint").as("n_dup_chunks"),
          sum(col("len")).cast("bigint").as("n_tokens"))
        .select(col("source"), col("n_chunks"), col("n_distinct"),
          col("n_dup_chunks"),
          expr("n_tokens * 100 div n_chunks").as("mean_len_centi"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                         list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            toks AS (SELECT doc_id, source, i - 1 AS p, ws[i] AS w
                     FROM d, UNNEST(generate_series(1, len(ws))) AS t(i)),
            flagged AS (SELECT doc_id, source, p, w,
                          CASE WHEN CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)
                                 % 16 = 0 THEN 1 ELSE 0 END AS f
                        FROM toks),
            cids AS (SELECT doc_id, source, p, w,
                       SUM(f) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
                     FROM flagged),
            chunks AS (SELECT doc_id, source, cid,
                         CAST(COUNT(*) AS BIGINT) AS len,
                         md5(string_agg(w, ' ' ORDER BY p)) AS ch
                       FROM cids GROUP BY doc_id, source, cid),
            dup AS (SELECT ch FROM chunks GROUP BY ch
                    HAVING COUNT(DISTINCT doc_id) >= 2)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_chunks,
              CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_distinct,
              CAST(COUNT(*) FILTER (WHERE ch IN (SELECT ch FROM dup)) AS BIGINT)
                AS n_dup_chunks,
              CAST(SUM(len) * 100 // COUNT(*) AS BIGINT) AS mean_len_centi
            FROM chunks GROUP BY source ORDER BY source"""))

  /** ROUGE-N overlap metrics for LSH candidate pairs (Lin 2004) — the
    * pair-level VERIFICATION step between "the bands collided" and "drop
    * the document": clipped 3-gram overlap Σ min(count_a, count_b) with
    * MULTIPLICITY (Jaccard's distinct sets hide repeated boilerplate;
    * ROUGE counts it), precision/recall/F1 in exact basis points
    * (integer division — no float ratio crosses engines). Same candidate
    * generator as q_dedup_minhash, so this is the drop-in refinement of
    * its estimate.
    *
    * Scale posture: the n-gram census is one partial+final count per
    * (doc, gram); the overlap join fans candidates over the gram census
    * (LSH-bounded pair count × grams per doc); totals broadcast back.
    */
  private val rougePair = Q(
    "q_rouge_pair",
    (spark, dir) => {
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val cand = minhashCandidates(shingleRelOf(docs))
      val grams = graft.Caches.persisted(
        docs.select(col("doc_id"),
            explode(TextOps.wordNGramsAll(col("text"), 3)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")))
      val totals = grams.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val overlap = cand
        .join(grams.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")), "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")),
          Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(least(col("ca"), col("cb"))).as("ov"))
      overlap
        .join(totals.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(totals.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          col("ov").cast("bigint").as("overlap"),
          col("na").cast("bigint").as("na"), col("nb").cast("bigint").as("nb"),
          expr("ov * 10000 div nb").as("prec_bp"),
          expr("ov * 10000 div na").as("rec_bp"))
        .select(col("doc_a"), col("doc_b"), col("overlap"), col("na"), col("nb"),
          col("prec_bp"), col("rec_bp"),
          when(col("prec_bp") + col("rec_bp") === 0, lit(null).cast("long"))
            .otherwise(expr("2 * prec_bp * rec_bp div (prec_bp + rec_bp)"))
            .as("f1_bp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $minhashCandCte,
             grams AS (SELECT doc_id,
                         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g,
                         CAST(COUNT(*) AS BIGINT) AS c
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                       WHERE len(ws) >= 3
                       GROUP BY doc_id, g),
             totals AS (SELECT doc_id, SUM(c) AS n FROM grams GROUP BY doc_id),
             ov AS (SELECT c.doc_a, c.doc_b, SUM(LEAST(a.c, b.c)) AS ov
                    FROM cand c
                    JOIN grams a ON a.doc_id = c.doc_a
                    JOIN grams b ON b.doc_id = c.doc_b AND b.g = a.g
                    GROUP BY c.doc_a, c.doc_b)
             SELECT o.doc_a, o.doc_b,
               CAST(o.ov AS BIGINT) AS overlap,
               CAST(ta.n AS BIGINT) AS na, CAST(tb.n AS BIGINT) AS nb,
               CAST(o.ov * 10000 // tb.n AS BIGINT) AS prec_bp,
               CAST(o.ov * 10000 // ta.n AS BIGINT) AS rec_bp,
               CASE WHEN o.ov * 10000 // tb.n + o.ov * 10000 // ta.n = 0 THEN NULL
                    ELSE CAST(2 * (o.ov * 10000 // tb.n) * (o.ov * 10000 // ta.n)
                      // ((o.ov * 10000 // tb.n) + (o.ov * 10000 // ta.n)) AS BIGINT)
               END AS f1_bp
             FROM ov o
             JOIN totals ta ON ta.doc_id = o.doc_a
             JOIN totals tb ON tb.doc_id = o.doc_b
             ORDER BY o.doc_a, o.doc_b"""))

  /** Exact edit distance for LSH candidate pairs — the
    * character-granularity verification metric (Levenshtein; both
    * engines implement the classic unit-cost DP, exact integers): raw
    * distance, both lengths, and similarity in basis points
    * ((maxlen − lev)·10⁴ div maxlen). Character edits catch
    * reorder-insensitive n-gram metrics' blind spot (ROUGE scores a
    * shuffled copy high; Levenshtein does not).
    *
    * Scale posture: the DP is O(len_a·len_b) PER CANDIDATE PAIR —
    * affordable precisely because LSH bounded the pair set first (the
    * reason this is a verification metric, never a discovery join).
    */
  private val editDistance = Q(
    "q_edit_distance",
    (spark, dir) => {
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val cand = minhashCandidates(shingleRelOf(docs))
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).cast("bigint").as("lev"),
          length(col("ta")).cast("bigint").as("len_a"),
          length(col("tb")).cast("bigint").as("len_b"))
        .select(col("doc_a"), col("doc_b"), col("lev"), col("len_a"), col("len_b"),
          expr("(greatest(len_a, len_b) - lev) * 10000 div greatest(len_a, len_b)")
            .as("sim_bp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $minhashCandCte
             SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
               CAST(length(a.text) AS BIGINT) AS len_a,
               CAST(length(b.text) AS BIGINT) AS len_b,
               CAST((GREATEST(length(a.text), length(b.text))
                     - levenshtein(a.text, b.text)) * 10000
                 // GREATEST(length(a.text), length(b.text)) AS BIGINT) AS sim_bp
             FROM cand c
             JOIN documents a ON a.doc_id = c.doc_a
             JOIN documents b ON b.doc_id = c.doc_b
             ORDER BY c.doc_a, c.doc_b"""))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS plagiarism detector): from each window of 4 consecutive
    * 3-gram hashes keep the RIGHTMOST MINIMUM, giving the positional
    * guarantee the set-sketch family lacks — any shared token run of
    * length ≥ w + k − 1 = 6 produces at least one shared fingerprint
    * (minhash can miss a short plagiarized passage inside two otherwise
    * different documents; winnowing cannot). Output: document pairs
    * sharing ≥ 2 selected fingerprints, with per-doc fingerprint counts
    * and containment similarity in basis points.
    *
    * Scale posture: with w = 4 the "rightmost minimum of some window"
    * test is LOCAL — position p is selected iff for some window start
    * t ∈ [p−3, p] every earlier in-window hash is ≥ h(p) and every
    * later one is > h(p) — so the whole selection is 3 lags + 3 leads
    * in ONE per-document window pass: no ×w explode, no per-window
    * aggregate, no self-join (the explode+join formulation measured
    * ~5× slower at sf1 and was replaced; the naive replay pins the
    * equivalence). The pair join runs on selected fingerprints (~1/w
    * of the shingle mass), hash-keyed.
    */
  private val winnowing = Q(
    "q_winnowing",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val sh = posShingleRelOf(docs)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          graft.functions.Portable.hash60(col("sh")).as("h"))
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val lagged = sh
        .withColumn("n3", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .withColumn("p1", lag(col("h"), 1).over(byPos))
        .withColumn("p2", lag(col("h"), 2).over(byPos))
        .withColumn("p3", lag(col("h"), 3).over(byPos))
        .withColumn("x1", lead(col("h"), 1).over(byPos))
        .withColumn("x2", lead(col("h"), 2).over(byPos))
        .withColumn("x3", lead(col("h"), 3).over(byPos))
      val h = col("h")
      val c0 = col("pos") <= col("n3") - 4 &&
        col("x1") > h && col("x2") > h && col("x3") > h
      val c1 = col("pos") - 1 >= 0 && col("pos") - 1 <= col("n3") - 4 &&
        col("p1") >= h && col("x1") > h && col("x2") > h
      val c2 = col("pos") - 2 >= 0 && col("pos") - 2 <= col("n3") - 4 &&
        col("p1") >= h && col("p2") >= h && col("x1") > h
      val c3 = col("pos") - 3 >= 0 && col("pos") - 3 <= col("n3") - 4 &&
        col("p1") >= h && col("p2") >= h && col("p3") >= h
      val fps = graft.Caches.persisted(
        lagged.filter(coalesce(c0, lit(false)) || coalesce(c1, lit(false)) ||
            coalesce(c2, lit(false)) || coalesce(c3, lit(false)))
          .select(col("doc_id"), col("h")).distinct())
      val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      fps.select(col("doc_id").as("doc_a"), col("h"))
        .join(fps.select(col("doc_id").as("doc_b"), col("h")), "h")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .join(counts.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
        .join(counts.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          col("n_shared").cast("bigint").as("n_shared"),
          col("na").cast("bigint").as("na"), col("nb").cast("bigint").as("nb"),
          expr("n_shared * 10000 div least(na, nb)").as("sim_bp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH d AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            sh AS (SELECT doc_id, i - 1 AS pos,
                     CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)
                       AS BIGINT) AS h
                   FROM d, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                   WHERE len(ws) >= 3),
            n3 AS (SELECT doc_id, COUNT(*) AS n3 FROM sh GROUP BY doc_id),
            expanded AS (SELECT s.doc_id, s.pos, s.h, t
                         FROM sh s JOIN n3 ON n3.doc_id = s.doc_id,
                           UNNEST(generate_series(GREATEST(0, s.pos - 3),
                             LEAST(s.pos, n3.n3 - 4))) AS u(t)
                         WHERE n3.n3 >= 4),
            wmin AS (SELECT doc_id, t, MIN(h) AS mh FROM expanded GROUP BY doc_id, t),
            fps AS (SELECT DISTINCT doc_id, h FROM
                      (SELECT e.doc_id, e.t, MAX(e.pos) AS spos, MIN(e.h) AS h
                       FROM expanded e JOIN wmin w
                         ON w.doc_id = e.doc_id AND w.t = e.t AND e.h = w.mh
                       GROUP BY e.doc_id, e.t)),
            counts AS (SELECT doc_id, COUNT(*) AS nf FROM fps GROUP BY doc_id)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(COUNT(*) AS BIGINT) AS n_shared,
              CAST(MIN(ca.nf) AS BIGINT) AS na, CAST(MIN(cb.nf) AS BIGINT) AS nb,
              CAST(COUNT(*) * 10000 // LEAST(MIN(ca.nf), MIN(cb.nf)) AS BIGINT) AS sim_bp
            FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
            JOIN counts ca ON ca.doc_id = a.doc_id
            JOIN counts cb ON cb.doc_id = b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
            ORDER BY doc_a, doc_b"""))

  val all: Seq[Q] = Seq(dedupExact, dedupMinhash, dedupSimhash, dedupNgram,
    dedupContainment, minhashRecall, chunkDedup, dupRatioBySource,
    minhashPrecision, spanDedup, spanLeakage, simhashHamming, spanScrub,
    minhashEstError, lshBandSweep, boilerplatePrefix, spanDedupGlobal,
    spanScrubGlobal, spanCoverage, bbitMinhash, dedupSurvivorship,
    dedupIncremental, cdcChunking, storeAppend, storeDelete, rougePair,
    editDistance, winnowing)
}
