package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable.pround
import graft.functions.{Prefix, TextOps}
import org.apache.spark.sql.functions._

/** Training-batch preparation operators: the steps between a cleaned
  * corpus and a training run — sequence packing, length bucketing,
  * mixture sampling, canonicalization dedup, feature scaling. The
  * reference engine has none of this surface (SURVEY.md §2.2); these are
  * north-star pipeline operators like the dedup family.
  */
object TrainPrepQueries {

  /** Whitespace token count per document, shared tokenization with
    * q_token_count (TextOps.tokenStats ⇔ len(list_filter(string_split))).
    */
  private def tokenCounts(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenStats(col("text")).getField("n_tokens").cast("long").as("tc"))

  private val tokensCte =
    """tc AS (SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS tc
       FROM documents)"""

  /** GPT-style sequence packing: concatenate documents in doc_id order
    * and chunk into fixed 512-token blocks; each document starts in pack
    * floor(tokens-before / 512). The running token total comes from the
    * distributed prefix-sum primitive — the packing assignment for any
    * corpus size without an unpartitioned window (512 is a power of two,
    * so the float floor-division is exact on both engines). Output: per
    * pack, how many documents start there and their token mass — the
    * batch-shape audit a packing run ships with.
    */
  private val seqPack = Q(
    "q_seq_pack",
    (spark, dir) => {
      val c = Prefix.withRunningTotals(tokenCounts(spark, dir),
        Seq(col("doc_id")), Seq("tc"))
      c.select(col("tc"),
          floor((col("tc_cum") - col("tc")).cast("double") / 512.0)
            .cast("bigint").as("pack_id"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tc")).cast("bigint").as("pack_tokens"))
        .orderBy(col("pack_id"))
    },
    Some(s"""WITH $tokensCte,
             c AS (SELECT doc_id, tc,
                     CAST(SUM(tc) OVER (ORDER BY doc_id) AS BIGINT) AS tc_cum
                   FROM tc),
             p AS (SELECT CAST(FLOOR(CAST(tc_cum - tc AS DOUBLE) / 512.0) AS BIGINT) AS pack_id, tc
                   FROM c)
             SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tc) AS BIGINT) AS pack_tokens
             FROM p GROUP BY pack_id ORDER BY pack_id"""))

  /** Power-of-two length bucketing — the batching histogram (which
    * context lengths dominate, how much padding would fixed batches
    * waste). log2 of an exact integer is ulp-safe: the nearest boundary
    * is log2(1+1/tc) away, orders of magnitude above double error.
    * Output is bounded by log2(max tokens) rows at any scale.
    */
  private val tokenBuckets = Q(
    "q_token_buckets",
    (spark, dir) =>
      tokenCounts(spark, dir)
        .filter(col("tc") >= 1)
        .select(col("tc"),
          pow(lit(2.0), floor(log2(col("tc").cast("double"))))
            .cast("bigint").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("tc")).as("min_tokens"), max(col("tc")).as("max_tokens"),
          sum(col("tc")).cast("bigint").as("tokens"))
        .orderBy(col("bucket_lo")),
    Some(s"""WITH $tokensCte
             SELECT CAST(POWER(2.0, FLOOR(LOG2(CAST(tc AS DOUBLE)))) AS BIGINT) AS bucket_lo,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(tc) AS min_tokens, MAX(tc) AS max_tokens,
               CAST(SUM(tc) AS BIGINT) AS tokens
             FROM tc WHERE tc >= 1
             GROUP BY bucket_lo ORDER BY bucket_lo"""))

  /** Deterministic mixture sampling: per length tier (short/mid/long by
    * n_chars), keep a tier-specific fraction chosen by an md5-derived
    * 60-bit hash of the doc id — the up/down-weighting step that turns a
    * corpus into a training mix. Hash-threshold sampling is reproducible
    * on any engine and any partitioning (no RNG state), and the realized
    * rate per tier is the audit a mixing run reports. Pure per-row map +
    * one bounded aggregate.
    */
  private val interleave = Q(
    "q_interleave",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(
          when(col("n_chars") < 200, "short")
            .when(col("n_chars") < 400, "mid").otherwise("long").as("tier"),
          conv(substring(md5(concat(lit("mix"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long").as("h"))
        .withColumn("rate",
          when(col("tier") === "short", 20)
            .when(col("tier") === "mid", 50).otherwise(100))
        .withColumn("keep", (pmod(col("h"), lit(100)) < col("rate")).cast("int"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep")).cast("bigint").as("n_kept"),
          pround(sum(col("keep")).cast("double") / count(lit(1)).cast("double"), 4)
            .as("realized_rate"))
        .orderBy(col("tier")),
    Some("""WITH t AS (SELECT CASE WHEN n_chars < 200 THEN 'short'
                         WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS tier,
                     CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
                   FROM documents),
            k AS (SELECT tier,
                    CASE WHEN (h % 100) < (CASE tier WHEN 'short' THEN 20
                      WHEN 'mid' THEN 50 ELSE 100 END) THEN 1 ELSE 0 END AS keep
                  FROM t)
            SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_total,
              CAST(SUM(keep) AS BIGINT) AS n_kept,
              FLOOR((CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                * 10000 + 0.5) / 10000 AS realized_rate
            FROM k GROUP BY tier ORDER BY tier"""))

  /** Canonicalization dedup audit: lowercase, strip non-alphanumerics,
    * collapse runs of spaces, then group by the md5 of the canonical
    * form and report the duplicate-group size histogram (how much of the
    * corpus survives normalization-level dedup). Content-keyed hash
    * aggregates end to end; the histogram is bounded by the largest
    * duplicate cluster.
    */
  private val dedupCanonical = Q(
    "q_dedup_canonical",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(md5(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
          .as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("sz")).cast("bigint").as("n_docs"))
        .orderBy(col("sz")),
    Some("""WITH k AS (SELECT md5(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g'))) AS k
                   FROM documents),
            g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS sz FROM k GROUP BY k)
            SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_groups,
              CAST(SUM(sz) AS BIGINT) AS n_docs
            FROM g GROUP BY sz ORDER BY sz"""))

  /** Per-dimension min-max feature scaling of the first 4 embedding
    * dimensions: global (min, max) per dimension by one partial+final
    * aggregate over the posexploded stripes, broadcast back, scale
    * in-place. The stats relation is dimension-bounded; the fact side
    * never shuffles. First 20 vectors reported.
    */
  private val minmaxScale = Q(
    "q_minmax_scale",
    (spark, dir) => {
      val ex = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("dim", "v")))
      val stats = broadcast(ex.groupBy(col("dim"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx")))
      ex.filter(col("vec_id") < 20)
        .join(stats, "dim")
        .select(col("vec_id"), col("dim").cast("int").as("dim"),
          pround((col("v").cast("double") - col("mn").cast("double")) /
            (col("mx").cast("double") - col("mn").cast("double")), 4).as("scaled"))
        .orderBy(col("vec_id"), col("dim"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS v
                   FROM embeddings, UNNEST(generate_series(1, 4)) AS u(i)),
            stats AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY dim)
            SELECT vec_id, ex.dim,
              FLOOR(((v - mn) / (mx - mn)) * 10000 + 0.5) / 10000 AS scaled
            FROM ex JOIN stats ON ex.dim = stats.dim
            WHERE vec_id < 20 ORDER BY vec_id, ex.dim"""))

  /** Weighted systematic sampling: 50 evenly-spaced probe positions over
    * the cumulative token mass pick documents with probability
    * proportional to length — the deterministic, integer-exact
    * alternative to weighted reservoir sampling (no RNG state, no float
    * u^(1/w) knife edges; a document is picked iff a probe lands in its
    * cumulative interval). The running mass comes from the distributed
    * prefix sum; the 50-row probe relation broadcasts, so selection is
    * one linear scan with a 50-way interval test at any corpus size.
    * Probes are the k interval midpoints ((2j+1)·W) div (2k) + 1 —
    * pure integer arithmetic both engines replay exactly.
    */
  private val systematicSample = Q(
    "q_systematic_sample",
    (spark, dir) => {
      val c = Prefix.withRunningTotals(
        tokenCounts(spark, dir).filter(col("tc") > 0),
        Seq(col("doc_id")), Seq("tc"))
      val w = broadcast(c.agg(max(col("tc_cum")).cast("bigint").as("tot")))
      val probes = broadcast(spark.range(50).select(col("id").as("j"))
        .crossJoin(w)
        // integer division (div), matching the oracle's // exactly
        .select(col("j"), expr("(2 * j + 1) * tot div 100 + 1").as("pos")))
      c.join(probes,
          col("pos") > col("tc_cum") - col("tc") && col("pos") <= col("tc_cum"))
        .select(col("j").cast("int").as("j"), col("doc_id"), col("tc"))
        .orderBy(col("j"))
    },
    Some(s"""WITH $tokensCte,
             c AS (SELECT doc_id, tc,
                     CAST(SUM(tc) OVER (ORDER BY doc_id) AS BIGINT) AS tc_cum
                   FROM tc WHERE tc > 0),
             w AS (SELECT MAX(tc_cum) AS tot FROM c),
             probes AS (SELECT j, ((2 * j + 1) * tot) // 100 + 1 AS pos
                        FROM UNNEST(generate_series(0, 49)) AS t(j), w)
             SELECT CAST(j AS INT) AS j, doc_id, tc
             FROM c JOIN probes ON pos > tc_cum - tc AND pos <= tc_cum
             ORDER BY j"""))

  /** Class-balance audit of the embedding labels: per-class count,
    * corpus share, and ratio to the majority class — the first report a
    * training run prints before choosing class weights. One hash
    * aggregate; the class-bounded relation then crosses the broadcast
    * totals.
    */
  private val labelBalance = Q(
    "q_label_balance",
    (spark, dir) => {
      val g = Tables(spark, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).cast("bigint").as("n"))
      val tot = broadcast(g.agg(sum(col("n")).cast("bigint").as("tot"),
        max(col("n")).cast("bigint").as("mx")))
      g.crossJoin(tot)
        .select(col("label").cast("int").as("label"), col("n"),
          pround(col("n").cast("double") / col("tot").cast("double"), 4).as("share"),
          pround(col("n").cast("double") / col("mx").cast("double"), 4).as("ratio_to_max"))
        .orderBy(col("label"))
    },
    Some("""WITH g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
                   FROM embeddings GROUP BY label),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(MAX(n) AS BIGINT) AS mx FROM g)
            SELECT CAST(label AS INT) AS label, n,
              FLOOR((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) * 10000 + 0.5) / 10000 AS share,
              FLOOR((CAST(n AS DOUBLE) / CAST(mx AS DOUBLE)) * 10000 + 0.5) / 10000 AS ratio_to_max
            FROM g CROSS JOIN t ORDER BY label"""))

  /** Curriculum bucketing: order the corpus by the (rounded) quality
    * score and cut it into 5 equal curriculum stages by exact integer
    * position arithmetic — easy-to-hard scheduling as a deterministic
    * assignment. The global ordering is the distributed row-number
    * primitive (never an unpartitioned window); the sort key is the
    * pround(4)-rounded score with doc_id tiebreak, so both engines
    * order identically. Stage = (rn−1)·5 div n, the q_ccnet_bucket
    * integer cut. Output: per-stage size and score/token ranges.
    */
  private val curriculum = Q(
    "q_curriculum",
    (spark, dir) => {
      val (_, _, _, score) = TextOps.qualityScore(col("text"))
      val scored = Tables(spark, dir, "documents")
        .select(col("doc_id"), pround(score, 4).as("s"),
          TextOps.tokenStats(col("text")).getField("n_tokens").cast("long").as("tc"))
      val (numbered, n) = graft.functions.Ranks.withGlobalRowNumber(
        scored, Seq(col("s"), col("doc_id")), "rn")
      numbered
        .select(col("s"), col("tc"),
          expr(s"CAST((rn - 1) * 5 div ${n}L AS INT)").as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("s")).as("min_score"), max(col("s")).as("max_score"),
          sum(col("tc")).cast("bigint").as("tokens"))
        .orderBy(col("stage"))
    },
    Some(s"""WITH ${TextQueries.qualityCtes("t", "m", "doc_id", "documents",
                   "CAST(len(ws) AS BIGINT) AS tc,")},
            sc AS (SELECT doc_id, tc,
                     FLOOR((${TextQueries.qualityScoreSql}) * 10000 + 0.5) / 10000 AS s
                   FROM m),
            r AS (SELECT s, tc,
                    CAST(ROW_NUMBER() OVER (ORDER BY s, doc_id) AS BIGINT) AS rn,
                    CAST(COUNT(*) OVER () AS BIGINT) AS n
                  FROM sc)
            SELECT CAST(((rn - 1) * 5) // n AS INT) AS stage,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              MIN(s) AS min_score, MAX(s) AS max_score,
              CAST(SUM(tc) AS BIGINT) AS tokens
            FROM r GROUP BY stage ORDER BY stage"""))

  /** Deterministic epoch shuffling: each epoch permutes the corpus by
    * md5(epoch:doc_id) and the query reports each epoch's first five
    * scheduled documents — the reproducible-data-order contract
    * (resume-safe training needs position(doc, epoch) to be a pure
    * function). The per-epoch head is a rank-filtered window, which
    * Spark executes with a partial WindowGroupLimit below the exchange
    * (per-partition top-5 heaps first — the per-group TakeOrdered
    * shape), so no epoch's full permutation ever materializes.
    */
  private val epochShuffle = Q(
    "q_epoch_shuffle",
    (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch")).orderBy(col("h"), col("doc_id"))
      Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("epoch"))
        .select(col("epoch"), col("doc_id"),
          md5(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))).as("h"))
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= 5)
        .select(col("epoch").cast("int").as("epoch"),
          col("pos").cast("int").as("pos"), col("doc_id"))
        .orderBy(col("epoch"), col("pos"))
    },
    Some("""WITH x AS (SELECT e.epoch, d.doc_id,
                  md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
                FROM documents d, UNNEST(generate_series(1, 3)) AS e(epoch)),
            r AS (SELECT epoch, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
                  FROM x)
            SELECT CAST(epoch AS INT) AS epoch, CAST(pos AS INT) AS pos, doc_id
            FROM r WHERE pos <= 5 ORDER BY epoch, pos"""))

  /** RAG-style chunking: fixed 200-char windows with stride 150 (50-char
    * overlap) over each document; per document the chunk count, the last
    * chunk's length, and an order-sensitive content fingerprint
    * (md5 of the concatenated per-chunk md5s) proving both engines cut
    * identical chunk sequences. Pure per-row fan-out (explode over the
    * stride positions) + one partial-aggregated groupBy — rides the scan
    * at any scale; no chunk list ever exceeds a document's own span.
    */
  private val ragChunk = Q(
    "q_rag_chunk",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .filter(length(col("text")) > 0) // Spark sequence() rejects 0 > -1
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 1, lit(150))).as("st"))
        .select(col("doc_id"), col("st"),
          md5(expr("substring(text, st + 1, 200)")).as("m"),
          (length(col("text")) - col("st")).as("tail_len"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_chunks"),
          least(min(col("tail_len")), lit(200)).cast("bigint").as("last_chunk_len"),
          md5(concat_ws("",
            transform(sort_array(collect_list(struct(col("st"), col("m")))),
              x => x.getField("m")))).as("fingerprint"))
        .orderBy(col("doc_id")),
    Some("""WITH ch AS (SELECT doc_id, st,
                  md5(substr(text, st + 1, 200)) AS m,
                  length(text) - st AS tail_len
                FROM documents, UNNEST(generate_series(0, length(text) - 1, 150)) AS u(st))
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
              CAST(LEAST(MIN(tail_len), 200) AS BIGINT) AS last_chunk_len,
              md5(string_agg(m, '' ORDER BY st)) AS fingerprint
            FROM ch GROUP BY doc_id ORDER BY doc_id"""))

  /** Source mixture weights under square-root temperature (the
    * multilingual-LM / UniMax sampling flattener): per-source token mass
    * m_s, weight ∝ √m_s, normalized to a sampling share. √ is floored to
    * integer micro-units BEFORE the normalizing sum, so the denominator
    * is exact integer arithmetic at any source fan-in — the only float
    * ops that cross engines are sqrt (correctly rounded per IEEE-754 in
    * both) and one final division of two exact integers. One token
    * aggregate (partial+final on source) plus a broadcast 1-row total.
    */
  private val mixtureWeights = Q(
    "q_mixture_weights",
    (spark, dir) => {
      val toks = Tables(spark, dir, "documents")
        .select(col("source"),
          TextOps.tokenStats(col("text")).getField("n_tokens").cast("long").as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("toks"))
      val w = toks.select(col("source"), col("toks"),
        floor(sqrt(col("toks").cast("double")) * lit(1000000d)).cast("long").as("w"))
      val tot = broadcast(w.agg(sum(col("w")).as("wtot")))
      w.crossJoin(tot)
        .select(col("source"), col("toks"),
          // all-empty-corpus guard: 0/0 crosses engines differently
          when(col("wtot") === 0, lit(null).cast("double"))
            .otherwise(pround(col("w").cast("double") / col("wtot").cast("double"), 6))
            .as("share"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT source,
              CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS toks
            FROM documents GROUP BY source),
            w AS (SELECT source, toks,
              CAST(FLOOR(SQRT(CAST(toks AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM t),
            s AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM w)
            SELECT source, toks,
              CASE WHEN wtot = 0 THEN NULL
                   ELSE FLOOR((CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)) * 1000000 + 0.5) / 1000000
              END AS share
            FROM w CROSS JOIN s ORDER BY source"""))

  /** Largest-remainder token-budget allocation: turn q_mixture_weights'
    * √-temperature weights into INTEGER per-source token budgets summing
    * to exactly B = 1,000,000 — the step between "weights" and an actual
    * sampling schedule (floats don't fill batches; integers do). Quota
    * method: base = ⌊B·w/Σw⌋ per source, then the B − Σbase leftover
    * tokens go to the sources with the largest remainders (ties by
    * source name) — the Hamilton apportionment rule, exact in integer /
    * decimal(38,0) arithmetic on both engines (B·w overflows BIGINT once
    * w passes ~9e12, i.e. corpora beyond ~10¹³ tokens — the decimal cast
    * mirrors HUGEINT). The ranking window is unpartitioned but runs over
    * the SOURCE-bounded weight relation (~tens of rows at any corpus
    * size — the q_growth_wow bounded-window rule). Conservation
    * (Σalloc = B exactly) is property-tested.
    */
  private val mixtureAllocation = Q(
    "q_mixture_allocation",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.broadcast
      val B = 1000000L
      val toks = Tables(spark, dir, "documents")
        .select(col("source"),
          TextOps.tokenStats(col("text")).getField("n_tokens").cast("long").as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("toks"))
        .filter(col("toks") > 0)
      val w = toks.select(col("source"),
        floor(sqrt(col("toks").cast("double")) * lit(1000000d)).cast("long").as("w"))
      val tot = broadcast(w.agg(sum(col("w")).cast("decimal(38,0)").as("wtot")))
      val a = w.crossJoin(tot).select(col("source"), col("w"),
        expr(s"CAST((CAST(w AS DECIMAL(38,0)) * $B) div wtot AS BIGINT)").as("alloc0"),
        expr(s"CAST((CAST(w AS DECIMAL(38,0)) * $B) % wtot AS DECIMAL(38,0))").as("rem"))
      val used = broadcast(a.agg(sum(col("alloc0")).cast("long").as("used")))
      a.crossJoin(used)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("w").as("weight_u"),
          (col("alloc0") +
            when(col("rk") <= lit(B) - col("used"), 1L).otherwise(0L))
            .cast("bigint").as("alloc_tokens"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT source,
              CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS toks
            FROM documents GROUP BY source),
            w AS (SELECT source,
                    CAST(FLOOR(SQRT(CAST(toks AS DOUBLE)) * 1000000) AS BIGINT) AS w
                  FROM t WHERE toks > 0),
            s AS (SELECT CAST(SUM(w) AS HUGEINT) AS wtot FROM w),
            a AS (SELECT source, w,
                    CAST((CAST(w AS HUGEINT) * 1000000) // wtot AS BIGINT) AS alloc0,
                    (CAST(w AS HUGEINT) * 1000000) % wtot AS rem
                  FROM w CROSS JOIN s),
            u AS (SELECT CAST(SUM(alloc0) AS BIGINT) AS used FROM a),
            r AS (SELECT source, w, alloc0,
                    row_number() OVER (ORDER BY rem DESC, source) AS rk
                  FROM a)
            SELECT source, w AS weight_u,
              CAST(alloc0 + CASE WHEN rk <= 1000000 - used THEN 1 ELSE 0 END AS BIGINT)
                AS alloc_tokens
            FROM r CROSS JOIN u ORDER BY source"""))

  /** T5-style span-corruption statistics: tokens are cut into 3-token
    * blocks and a block is masked iff hash60(doc_id:block) ≡ 0 (mod 7) —
    * a deterministic ≈1/7 span-level corruption schedule both engines
    * replay exactly (hash60 is the repo's canonical portable hash).
    * Per document: token count, masked-token count, mask ratio. The
    * block explosion is sequence+explode bounded by ⌈tokens/3⌉ — linear,
    * partition-local, no shuffle until the per-doc fold. Empty documents
    * are filtered (Spark's sequence(0,-1) counts DOWN where DuckDB's
    * generate_series is empty — the q_chunk_dedup guard).
    */
  private val spanMask = Q(
    "q_span_mask",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      val b = tokenCounts(spark, dir).filter(col("tc") > 0)
        .select(col("doc_id"), col("tc"), expr("(tc + 2) div 3").as("nb"))
      b.select(col("doc_id"), col("tc"), col("nb"),
          explode(expr("sequence(0, nb - 1)")).as("i"))
        .select(col("doc_id"), col("tc"),
          when(col("i") < col("nb") - 1, 3L)
            .otherwise(col("tc") - (col("nb") - 1) * 3).as("bsz"),
          when(hash60(concat_ws(":", col("doc_id"), col("i"))) % 7 === 0, 1L)
            .otherwise(0L).as("m"))
        .groupBy(col("doc_id"))
        .agg(max(col("tc")).as("n_tokens"),
          sum(col("m") * col("bsz")).as("n_masked"))
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          pround(col("n_masked").cast("double") / col("n_tokens").cast("double"), 4)
            .as("mask_ratio"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $tokensCte,
             b AS (SELECT doc_id, tc, (tc + 2) // 3 AS nb FROM tc WHERE tc > 0),
             blk AS (SELECT doc_id, tc,
                 CASE WHEN i < nb - 1 THEN 3 ELSE tc - (nb - 1) * 3 END AS bsz,
                 CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 7 = 0
                      THEN 1 ELSE 0 END AS m
               FROM b, UNNEST(generate_series(0, nb - 1)) AS t(i))
             SELECT doc_id, CAST(MAX(tc) AS BIGINT) AS n_tokens,
               CAST(SUM(m * bsz) AS BIGINT) AS n_masked,
               FLOOR((CAST(SUM(m * bsz) AS DOUBLE) / CAST(MAX(tc) AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS mask_ratio
             FROM blk GROUP BY doc_id ORDER BY doc_id"""))

  /** DSIR-shape data-mixture report (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23 — PAPERS.md
    * mixture line): per-document importance weights of a target domain
    * (here: English documents) against the raw corpus, estimated from
    * hashed-bigram bag-of-ngrams distributions — the modern counterpart
    * of q_ccnet_bucket's perplexity buckets and q_mixture_weights'
    * √-temperature shares. Bigrams hash into 256 buckets (the hashing
    * trick); both distributions get add-1 smoothing over the FULL
    * 256-bucket grid (zero-cell discipline of q_chi2) so no bucket has
    * log 0; the per-bucket log-likelihood ratio is floored to integer
    * MICRO-BITS (determinism rule 6 — float summation never crosses
    * engines un-floored), and each document's log-weight is the exact
    * integer Σ count_b · lr_µ. Reported per source: document count and
    * the mean log-weight in µbits (how much each source "looks like" the
    * target — the number a resampling pass would consume).
    *
    * Scale posture: one bigram scan feeds both distributions and the
    * per-doc bucket counts; the 256-row ratio table is grid-bounded and
    * broadcasts; every shuffle keys on content hash or doc_id — no
    * driver state, no skew.
    */
  private val dsirWeights = Q(
    "q_dsir_weights",
    (spark, dir) => {
      import graft.functions.Portable.hash60
      import org.apache.spark.sql.functions.broadcast
      // ONE bigram explode pass, reduced immediately to the per-(doc,
      // bucket) counts and persisted: the raw and target distributions
      // and the per-doc weights all re-aggregate this bounded relation
      // (≤ 256 rows per doc) instead of re-running the corpus-sized
      // tokenize+explode three times (measured 3x at sf1)
      // the bigram explode + hash is the compute (r10 telemetry: 24 s CPU
      // under 5.5 s wall) — spread the under-split scan so the partial
      // aggregation below it parallelizes
      val dc0 = graft.Caches.persisted(
        Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents")
            .select(col("doc_id"), col("source"), col("lang"), col("text")))
          .select(col("doc_id"), col("source"), col("lang"),
            explode(TextOps.wordNGramsAll(col("text"), 2)).as("g"))
          .select(col("doc_id"), col("source"), col("lang"),
            (hash60(col("g")) % 256).as("b"))
          .groupBy(col("doc_id"), col("source"), col("lang"), col("b"))
          .agg(count(lit(1)).as("c")))
      val grid = spark.range(256).select(col("id").as("b"))
      val raw = dc0.groupBy(col("b")).agg(sum(col("c")).as("cr"))
      val tgt = dc0.filter(col("lang") === "en")
        .groupBy(col("b")).agg(sum(col("c")).as("ct"))
      val full = grid
        .join(raw, Seq("b"), "left_outer").join(tgt, Seq("b"), "left_outer")
        .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("ct"), lit(0L)).as("ct"))
      val nr = full.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      // identical op sequence on both engines: int+1 → double divide →
      // log2 → subtract → scale → floor (each step IEEE-deterministic)
      val ratio = broadcast(full.crossJoin(broadcast(nr))
        .select(col("b"),
          floor((log2((col("ct") + 1).cast("double") / (col("nt") + 256).cast("double")) -
            log2((col("cr") + 1).cast("double") / (col("nr") + 256).cast("double"))) *
            lit(1000000d)).cast("long").as("lr_u")))
      val docw = dc0.select(col("doc_id"), col("source"), col("b"), col("c"))
        .join(ratio, "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c") * col("lr_u")).as("logw_u"))
      docw.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("logw_u")).cast("bigint").as("sum_logw_u"))
        .select(col("source"), col("n_docs"), col("sum_logw_u"),
          pround(col("sum_logw_u").cast("double") / col("n_docs").cast("double") / 1e6, 4)
            .as("mean_logw_bits"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (SELECT doc_id, source, lang,
                    list_filter(string_split(text, ' '), w -> w <> '') AS ws
                  FROM documents),
            bg AS (SELECT doc_id, source, lang,
                     CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15) AS BIGINT)
                       % 256 AS b
                   FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
                   WHERE len(ws) >= 2),
            grid AS (SELECT i AS b FROM UNNEST(generate_series(0, 255)) AS t(i)),
            raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY b),
            tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bg
                    WHERE lang = 'en' GROUP BY b),
            fg AS (SELECT g.b, COALESCE(r.cr, 0) AS cr, COALESCE(t.ct, 0) AS ct
                   FROM grid g LEFT JOIN raw r ON g.b = r.b
                   LEFT JOIN tgt t ON g.b = t.b),
            n AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM fg),
            ratio AS (SELECT b,
                CAST(FLOOR((log2(CAST(ct + 1 AS DOUBLE) / CAST(nt + 256 AS DOUBLE))
                  - log2(CAST(cr + 1 AS DOUBLE) / CAST(nr + 256 AS DOUBLE)))
                  * 1000000) AS BIGINT) AS lr_u
              FROM fg CROSS JOIN n),
            dc AS (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS c
                   FROM bg GROUP BY doc_id, source, b),
            docw AS (SELECT dc.doc_id, dc.source,
                       CAST(SUM(dc.c * ratio.lr_u) AS BIGINT) AS logw_u
                     FROM dc JOIN ratio ON dc.b = ratio.b
                     GROUP BY dc.doc_id, dc.source)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(logw_u) AS BIGINT) AS sum_logw_u,
              FLOOR((CAST(SUM(logw_u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000)
                * 10000 + 0.5) / 10000 AS mean_logw_bits
            FROM docw GROUP BY source ORDER BY source"""))

  val all: Seq[Q] = Seq(seqPack, tokenBuckets, interleave, dedupCanonical,
    minmaxScale, systematicSample, labelBalance, curriculum, epochShuffle,
    ragChunk, mixtureWeights, mixtureAllocation, spanMask, dsirWeights)
}
