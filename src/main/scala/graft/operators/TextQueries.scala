package graft.operators

import graft.{Caches, Q, Tables}
import graft.functions.Portable.pround
import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text operators over the `documents` table: the reference's flagship
  * char-count query (SampleClient.cpp:34-65 semantics), canonical MapReduce
  * word count / inverted index, and the LLM-pipeline text-analysis suite
  * (token counting, language-ID heuristic, quality scoring, fingerprinting).
  *
  * All are explode → groupBy pipelines: one shuffle keyed on the token, with
  * map-side partial aggregation, which is the scalable shape at 100 TB.
  */
object TextQueries {

  /** Flagship [ref]: per-character frequency count — the reference's sample
    * query (`SampleClient.cpp:34-65`) lifted onto documents.text.
    * Tokenized by Unicode code point (`regexp_extract_all(text, '(?s).')`
    * — Java regex `.` matches a code point, like DuckDB's RE2), the same
    * idiom as q_char_entropy, so the flagship stays correct on the first
    * non-BMP character in a fixture where `split(text, '')`'s UTF-16
    * code units would silently diverge.
    */
  val charCount = Q(
    "q_char_count",
    (spark, dir) =>
      // the per-char regex explode is the compute — spread the 1-split scan
      Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("text")))
        .select(explode(regexp_extract_all(col("text"), lit("(?s)."), lit(0))).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("ch"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("ch")),
    Some("""SELECT ch, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT UNNEST(regexp_extract_all(text, '(?s).')) AS ch FROM documents)
            WHERE ch <> '' GROUP BY ch ORDER BY ch"""))

  /** Canonical MapReduce word count. */
  private val wordCount = Q(
    "q_word_count",
    (spark, dir) =>
      Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("text")))
        .select(explode(TextOps.wordsNative(lower(col("text")))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("word")),
    Some("""SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS word FROM documents)
            WHERE word <> '' GROUP BY word ORDER BY word"""))

  /** Inverted index: term → comma-joined sorted distinct doc ids. The doc
    * list is emitted as a string so the hash compare is representation-
    * independent. At scale this is groupBy(word) with collect_set — bounded
    * by vocabulary × docs-per-term.
    */
  private val invertedIndex = Q(
    "q_inverted_index",
    (spark, dir) =>
      // distinct=true shingle pass (n=1) dedups (doc, word) on the map
      // side, so the shuffle carries each posting once and the per-word
      // aggregate is a plain count — no countDistinct Expand.
      Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(TextOps.distinctWordNGrams(col("text"), 1)).as("word"))
        .groupBy(col("word"))
        .agg(
          concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))).as("doc_ids"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("word")),
    Some("""SELECT word, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
              CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id, word FROM
                   (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
                  WHERE word <> '')
            GROUP BY word ORDER BY word"""))

  /** Per-(lang, source) document statistics. */
  private val textStats = Q(
    "q_text_stats",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          pround(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("source")),
    Some("""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              FLOOR((AVG(n_chars)) * 10000 + 0.5) / 10000 AS avg_chars,
              CAST(MIN(n_chars) AS BIGINT) AS min_chars,
              CAST(MAX(n_chars) AS BIGINT) AS max_chars
            FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Token counting: whitespace tokens and a regex (BPE-ish word/number
    * piece) tokenizer, per document.
    */
  private val tokenCount = Q(
    "q_token_count",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.tokenStats(col("text")).getField("n_tokens").as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).cast("bigint").as("re_tokens"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
            FROM documents ORDER BY doc_id"""))

  /** Heuristic language ID: stopword-hit ratio thresholding, reported per
    * (actual lang, predicted lang).
    */
  private val langId = Q(
    "q_lang_id",
    (spark, dir) => {
      val st = TextOps.tokenStats(col("text"))
      val ratio = when(st.getField("n_tokens") === 0, lit(0.0))
        .otherwise(st.getField("stop_hits").cast("double") /
          st.getField("n_tokens").cast("double"))
      Tables(spark, dir, "documents")
        .select(col("lang"), ratio.as("ratio"))
        .select(col("lang"),
          when(col("ratio") >= 0.05, lit("en")).otherwise(lit("und")).as("pred_lang"),
          col("ratio"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"), pround(avg(col("ratio")), 4).as("avg_ratio"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    Some("""WITH s AS (
              SELECT lang,
                CASE WHEN len(ws) = 0 THEN 0.0
                     ELSE CAST(len(list_filter(ws, w -> w IN
                       ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
                       / CAST(len(ws) AS DOUBLE) END AS ratio
              FROM (SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                    FROM documents))
            SELECT lang,
              CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'und' END AS pred_lang,
              CAST(COUNT(*) AS BIGINT) AS cnt, FLOOR((AVG(ratio)) * 10000 + 0.5) / 10000 AS avg_ratio
            FROM s GROUP BY 1, 2 ORDER BY lang, pred_lang"""))

  /** Quality score: blend of token count, stopword ratio and mean token
    * length — the standard cheap pre-filter for LLM training corpora.
    */
  /** Oracle twin of [[TextOps.qualityScore]]'s metrics over the word list
    * `ws`: `n_tok`, `avg_len` and `ratio`, the stopword share. */
  private[operators] val qualityMetricsSql =
    """CAST(len(ws) AS DOUBLE) AS n_tok,
       CASE WHEN len(ws) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                 / CAST(len(ws) AS DOUBLE) END AS avg_len,
       CASE WHEN len(ws) = 0 THEN 0.0
            ELSE CAST(len(list_filter(ws, w -> w IN
              ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
              / CAST(len(ws) AS DOUBLE) END AS ratio"""

  /** Oracle twin of [[TextOps.qualityScore]]'s score over those metrics. */
  private[operators] val qualityScoreSql =
    """LEAST(n_tok / 100.0, 1.0) * 0.4 + ratio * 0.3
         + LEAST(avg_len / 8.0, 1.0) * 0.3"""

  /** Oracle CTEs `t`, the `cols` of `from` with their non-empty words
    * `ws`, and `m`, the same `cols` (then `mExtra`) with the quality
    * metrics. */
  private[operators] def qualityCtes(t: String, m: String, cols: String, from: String,
      mExtra: String = ""): String =
    s"""$t AS (SELECT $cols,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
               FROM $from),
        $m AS (SELECT $cols, $mExtra
                 $qualityMetricsSql
               FROM $t)"""

  private val qualityScore = Q(
    "q_quality_score",
    (spark, dir) => {
      val (nTokens, avgLen, _, score) = TextOps.qualityScore(col("text"))
      Tables(spark, dir, "documents")
        .select(col("doc_id"), nTokens.as("n_tokens"),
          pround(avgLen, 4).as("avg_token_len"), pround(score, 4).as("score"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${qualityCtes("t", "m", "doc_id", "documents")}
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
              FLOOR((avg_len) * 10000 + 0.5) / 10000 AS avg_token_len,
              FLOOR(($qualityScoreSql) * 10000 + 0.5) / 10000 AS score
            FROM m ORDER BY doc_id"""))

  /** Document fingerprint: min/max hash over word-3-gram shingles (a
    * winnowing-style rolling fingerprint) + distinct shingle count.
    */
  private val fingerprint = Q(
    "q_fingerprint",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      docs
        .select(col("doc_id"),
          explode(TextOps.distinctWordNGrams(col("text"), 3)).as("sh"))
        .select(col("doc_id"), TextOps.hashHex(col("sh")).as("h")) // hash once
        .groupBy(col("doc_id"))
        .agg(
          min(col("h")).as("fp_min"),
          max(col("h")).as("fp_max"),
          count(lit(1)).as("n_shingles"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                        FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                              FROM documents) t,
                             UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                        WHERE len(ws) >= 3)
            SELECT doc_id, MIN(substr(md5(sh), 1, 16)) AS fp_min,
              MAX(substr(md5(sh), 1, 16)) AS fp_max,
              CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM sh GROUP BY doc_id ORDER BY doc_id"""))

  /** TF-IDF: top-5 terms per document (bounded to doc_id < 20 for a
    * stable oracle size). Classic two-aggregation MapReduce pipeline:
    * term frequencies and document frequencies are separate shuffles on
    * (doc, word) / word, then a broadcast-joined scalar N. ln() is IEEE-
    * identical enough across engines that pround(4) is stable.
    */
  /** Term statistics of `docs`: per-(doc_id, word) counts `tf`, per-doc
    * token counts `dt`, and per-word document frequencies `df`. */
  private def termCounts(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val wd = docs.select(col("doc_id"), explode(TextOps.wordsNative(col("text"))).as("word"))
    val tf = wd.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dt = wd.groupBy(col("doc_id")).agg(count(lit(1)).as("dt"))
    // document frequency via the map-side-distinct shingle pass (the
    // q_inverted_index discipline): the shuffle carries each (doc, word)
    // posting once — no corpus-wide distinct over raw occurrences
    val df = docs
      .select(explode(TextOps.distinctWordNGrams(col("text"), 1)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    (tf, dt, df)
  }

  private val tfidf = Q(
    "q_tfidf",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val (tf, dt, df) = termCounts(docs)
      val n = docs.select(countDistinct(col("doc_id")).as("n"))
      val scored = tf.join(dt, "doc_id").join(broadcast(df), "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          ((col("tf").cast("double") / col("dt")) *
            log(col("n").cast("double") / col("df"))).as("tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(pround(col("tfidf"), 4).desc, col("word"))
      scored.filter(col("doc_id") < 20)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn"), col("word"), pround(col("tfidf"), 4).as("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    },
    Some("""WITH wd AS (SELECT doc_id, word FROM
                          (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
                        WHERE word <> ''),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wd GROUP BY doc_id, word),
            dt AS (SELECT doc_id, COUNT(*) AS dt FROM wd GROUP BY doc_id),
            df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM wd GROUP BY word),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
            scored AS (SELECT tf.doc_id, tf.word,
                         (CAST(tf.tf AS DOUBLE) / dt.dt) * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
                       FROM tf JOIN dt ON tf.doc_id = dt.doc_id
                       JOIN df ON tf.word = df.word CROSS JOIN n),
            ranked AS (SELECT doc_id, word,
                         FLOOR(tfidf * 10000 + 0.5) / 10000 AS tfidf,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY FLOOR(tfidf * 10000 + 0.5) / 10000 DESC, word) AS rn
                       FROM scored WHERE doc_id < 20)
            SELECT doc_id, CAST(rn AS INT) AS rn, word, tfidf FROM ranked
            WHERE rn <= 5 ORDER BY doc_id, rn"""))

  /** Text normalization pipeline: uppercase, strip single-letter tokens,
    * collapse whitespace runs, trim — regex-driven cleaning with identical
    * PCRE semantics on both engines (DuckDB needs the explicit 'g' flag
    * for global replacement; Spark is global by default).
    */
  private val textClean = Q(
    "q_text_clean",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 10)
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(upper(col("text")), "\\b[A-Z]\\b", ""),
            " +", " ")).as("cleaned"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              trim(regexp_replace(
                regexp_replace(upper(text), '\b[A-Z]\b', '', 'g'),
                ' +', ' ', 'g')) AS cleaned
            FROM documents WHERE doc_id < 10 ORDER BY doc_id"""))

  /** Bigram language model: P(w2 | w1) = c(w1,w2) / c(w1,·) — the
    * two-shuffle counting pipeline (bigram counts, then a w1-partition
    * window for the denominator), reporting the 20 most frequent bigrams.
    */
  private val bigramLm = Q(
    "q_bigram_lm",
    (spark, dir) => {
      val bg = Tables(spark, dir, "documents")
        .select(explode(TextOps.wordNGramsAll(col("text"), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val byW1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      bg.select(col("w1"), col("w2"), col("cnt"),
          pround(col("cnt").cast("double") /
            sum(col("cnt")).over(byW1).cast("double"), 4).as("p"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                   FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
                   WHERE len(ws) >= 2),
            c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY w1, w2)
            SELECT w1, w2, cnt,
              FLOOR((CAST(cnt AS DOUBLE) /
                CAST(SUM(cnt) OVER (PARTITION BY w1) AS DOUBLE)) * 10000 + 0.5) / 10000 AS p
            FROM c ORDER BY cnt DESC, w1, w2 LIMIT 20"""))

  /** Repetition filter (the Gopher-style quality rule): per document, the
    * duplicate-trigram ratio 1 − |distinct 3-grams| / |3-grams|; documents
    * above the threshold get flagged. Both shingle passes are the native
    * WordNGrams expression (one compiled scan each, no interpreted HOF
    * walks); the flag compares the ROUNDED ratio, so it is exactly as
    * portable as the ratio itself. Per-row computation only — rides the
    * scan at any scale. Documents with no trigram (< 3 words) are out of
    * scope of the rule and are not emitted.
    */
  private val repetitionFilter = Q(
    "q_repetition_filter",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.wordNGramsAll(col("text"), 3)).cast("bigint").as("n3_total"),
          size(TextOps.distinctWordNGrams(col("text"), 3)).cast("bigint").as("n3_distinct"))
        .filter(col("n3_total") > 0)
        .withColumn("dup_ratio",
          pround(lit(1.0) - col("n3_distinct").cast("double") / col("n3_total").cast("double"), 4))
        .withColumn("is_repetitive", (col("dup_ratio") > 0.2).cast("int"))
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            tg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
                   FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                   WHERE len(ws) >= 3),
            agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n3_total,
                           CAST(COUNT(DISTINCT g) AS BIGINT) AS n3_distinct
                    FROM tg GROUP BY doc_id),
            r AS (SELECT doc_id, n3_total, n3_distinct,
                    FLOOR((1.0 - CAST(n3_distinct AS DOUBLE) / CAST(n3_total AS DOUBLE))
                      * 10000 + 0.5) / 10000 AS dup_ratio
                  FROM agg)
            SELECT doc_id, n3_total, n3_distinct, dup_ratio,
              CAST(CASE WHEN dup_ratio > 0.2 THEN 1 ELSE 0 END AS INT) AS is_repetitive
            FROM r ORDER BY doc_id"""))

  /** Zipf rank statistics: the corpus vocabulary ranked by frequency with
    * each head word's cumulative token share — the standard vocabulary
    * health check for a training corpus. Scale shape: the head is taken
    * with orderBy+limit (TakeOrderedAndProject — per-partition heaps, a
    * 20-row driver merge, never a global sort of the vocabulary); the
    * total token count joins in as a broadcast scalar; the ranking
    * window then runs over just the 20 head rows.
    */
  private val zipfStats = Q(
    "q_zipf_stats",
    (spark, dir) => {
      val wc = Tables(spark, dir, "documents")
        .select(explode(TextOps.wordsNative(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val total = wc.agg(sum(col("cnt")).as("total"))
      val head = wc.orderBy(col("cnt").desc, col("w")).limit(20)
      val ord = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w"))
      val cum = ord.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      head.crossJoin(broadcast(total))
        .select(col("w"), col("cnt"),
          row_number().over(ord).as("rank"),
          pround(sum(col("cnt")).over(cum).cast("double") /
            col("total").cast("double"), 4).as("cum_share"))
        .orderBy(col("rank"))
    },
    Some("""WITH wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM documents,
                      UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(w)
                 GROUP BY w)
            SELECT w, cnt,
              CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INT) AS rank,
              FLOOR((CAST(SUM(cnt) OVER (ORDER BY cnt DESC, w
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                / CAST(SUM(cnt) OVER () AS DOUBLE)) * 10000 + 0.5) / 10000 AS cum_share
            FROM wc ORDER BY rank LIMIT 20"""))

  /** Model-based quality scoring: per-document average bigram negative
    * log-likelihood under the corpus's own bigram LM (the q_bigram_lm
    * model applied back to every document) — the classic
    * perplexity-filter leg of a training-data pipeline. All joins are
    * hash equi-joins on content-derived keys (bigram, then w1) with
    * partial+final aggregates everywhere; no windows over raw tokens.
    * One explode pass: per-(doc, bigram) counts are aggregated first and
    * persisted, so the corpus LM is a re-aggregation of the same cached
    * relation and the scoring join carries distinct doc-bigrams instead
    * of every occurrence (the weighted mean Σ dcnt·(-log2 p) / Σ dcnt is
    * the occurrence average). The -log2 terms funnel through that mean
    * before rounding, keeping libm ulp drift inside pround(4). Documents
    * with no bigram (< 2 words) have no likelihood and are not emitted.
    */
  /** The corpus bigram LM: per-doc (doc_id, w1, w2) counts `dcnt`
    * (cached — they feed both the LM re-aggregation and the scoring join;
    * released by the harness's post-query Caches.releaseAll()) and the
    * conditional probabilities (w1, w2, p). */
  private def bigramLm(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docBg = Caches.persisted(Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(TextOps.wordNGramsAll(col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("dcnt")))
    val lm = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("dcnt")).as("cnt"))
    val tot = lm.groupBy(col("w1")).agg(sum(col("cnt")).as("tot"))
    (docBg, lm.join(tot, "w1")
      .select(col("w1"), col("w2"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p")))
  }

  /** Oracle twin of [[bigramLm]]: CTEs `toks`, `bg`, `dbg`, `lm`, `tot`, `p`. */
  private val bigramLmCtes =
    """toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                FROM documents),
       bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
              FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
              WHERE len(ws) >= 2),
       dbg AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS dcnt
               FROM bg GROUP BY doc_id, w1, w2),
       lm AS (SELECT w1, w2, CAST(SUM(dcnt) AS BIGINT) AS cnt FROM dbg GROUP BY w1, w2),
       tot AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS tot FROM lm GROUP BY w1),
       p AS (SELECT w1, w2, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS p
             FROM lm JOIN tot USING (w1))"""

  private val lmPerplexity = Q(
    "q_lm_perplexity",
    (spark, dir) => {
      val (docBg, probs) = bigramLm(spark, dir)
      docBg.join(probs, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("dcnt")).cast("bigint").as("n_bigrams"),
          pround(sum(col("dcnt").cast("double") * -log2(col("p"))) /
            sum(col("dcnt").cast("double")), 4).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $bigramLmCtes
            SELECT doc_id, CAST(SUM(dcnt) AS BIGINT) AS n_bigrams,
              FLOOR((SUM(CAST(dcnt AS DOUBLE) * -log2(p))
                / SUM(CAST(dcnt AS DOUBLE))) * 10000 + 0.5) / 10000 AS avg_nll
            FROM dbg JOIN p USING (w1, w2) GROUP BY doc_id ORDER BY doc_id"""))

  /** Character-level Shannon entropy per document — the entropy leg of a
    * quality-filter stack (gibberish and binary-junk documents sit at the
    * extremes of the distribution). Computed as log2(n) − Σ c·log2(c) / n
    * over per-(doc, char) counts: the float terms are functions of
    * integers only, so both engines sum identical values and pround(4)
    * absorbs ordering ulp. One explode + two hash aggregates, all
    * partial+final; alphabet size bounds the per-doc group count.
    * Tokenization is by codepoint on BOTH sides (Java regex `.` matches
    * a code point, like DuckDB's RE2) — `split(text, "")` would yield
    * UTF-16 code units and silently diverge on the first non-BMP
    * character in a fixture.
    */
  private val charEntropy = Q(
    "q_char_entropy",
    (spark, dir) =>
      Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("(?s)."), lit(0))).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("bigint").as("n_chars_tot"),
          pround(
            log2(sum(col("c")).cast("double")) -
              sum(col("c").cast("double") * log2(col("c").cast("double"))) /
                sum(col("c")).cast("double"), 4).as("entropy"))
        .orderBy(col("doc_id")),
    Some("""WITH cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT doc_id, UNNEST(regexp_extract_all(text, '(?s).')) AS ch
                    FROM documents)
              WHERE ch <> '' GROUP BY doc_id, ch)
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars_tot,
              FLOOR((log2(CAST(SUM(c) AS DOUBLE))
                - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                  / CAST(SUM(c) AS DOUBLE)) * 10000 + 0.5) / 10000 AS entropy
            FROM cc GROUP BY doc_id ORDER BY doc_id"""))

  /** Cross-document n-gram contamination coverage: for each document, the
    * share of its distinct word 5-grams that occur in at least one other
    * document (the membership side of MassiveText/RefinedWeb-style
    * fuzzy-overlap filters, complementing q_dedup_ngram's pairwise
    * Jaccard). Map-side-distinct shingles keyed on the gram, document
    * frequency by one hash aggregate, then an equi-join back — every
    * stage shuffles on content-derived keys, no pairwise blowup.
    * Documents under 5 words have no gram and are not emitted.
    */
  private val ngramCoverage = Q(
    "q_ngram_coverage",
    (spark, dir) => {
      // consumed twice (document-frequency agg + membership join), both
      // keyed on the gram — spread the under-split scan so the codegen'd
      // 5-gram explode parallelizes (2.6 effective cores before, r10
      // telemetry), then pre-partition the cache on the gram so ONE
      // exchange feeds both consumers (the q_minhash_recall collapse);
      // released by the harness's post-query Caches.releaseAll()
      val dg = Caches.persisted(
        Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents")
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            explode(TextOps.distinctWordNGrams(col("text"), 5)).as("g"))
          .repartition(col("g")))
      val freq = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      dg.join(freq, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count_if(col("df") >= 2).as("shared_grams"),
          pround(count_if(col("df") >= 2).cast("double") /
            count(lit(1)).cast("double"), 4).as("shared_share"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            dg AS (SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' '
                       || ws[i + 3] || ' ' || ws[i + 4] AS g
                   FROM toks, UNNEST(generate_series(1, len(ws) - 4)) AS u(i)
                   WHERE len(ws) >= 5),
            freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM dg GROUP BY g)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(COUNT(*) FILTER (WHERE df >= 2) AS BIGINT) AS shared_grams,
              FLOOR((CAST(COUNT(*) FILTER (WHERE df >= 2) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS shared_share
            FROM dg JOIN freq USING (g) GROUP BY doc_id ORDER BY doc_id"""))

  /** PII redaction: email- and number-shaped spans replaced with typed
    * placeholder tokens, with per-document match counts — the scrubbing
    * pass of a training-data pipeline. The synthetic corpus carries no
    * organic PII, so each document is deterministically enriched with an
    * email + numeric tail derived from its own keys before redaction
    * (the redactor sees real pattern instances; the enrichment is pure
    * projection). Pure per-row map — embarrassingly parallel, no shuffle
    * before the output sort; both engines replace globally (Spark
    * default, DuckDB 'g' flag).
    */
  private val piiRedact = Q(
    "q_pii_redact",
    (spark, dir) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+"
      val numRe = "[0-9]+"
      val enriched = Tables(spark, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com ref "), col("n_chars").cast("string"),
            lit(" tel "), (col("doc_id") % 1000).cast("string"),
            lit("-"), (col("doc_id") % 97).cast("string")).as("t"))
      enriched
        .select(col("doc_id"),
          regexp_replace(col("t"), emailRe, "<EMAIL>").as("t1"),
          regexp_count(col("t"), lit(emailRe)).cast("bigint").as("n_email"))
        .select(col("doc_id"), col("n_email"),
          regexp_count(col("t1"), lit(numRe)).cast("bigint").as("n_num"),
          regexp_replace(col("t1"), numRe, "<NUM>").as("red"))
        .select(col("doc_id"), col("n_email"), col("n_num"),
          length(col("red")).cast("bigint").as("red_len"),
          substring(md5(col("red")), 1, 16).as("red_fp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH enriched AS (SELECT doc_id,
              text || ' contact u' || doc_id || '@example.com ref ' || n_chars
                || ' tel ' || (doc_id % 1000) || '-' || (doc_id % 97) AS t
              FROM documents),
            s1 AS (SELECT doc_id,
              regexp_replace(t, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g') AS t1,
              CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_email
              FROM enriched),
            s2 AS (SELECT doc_id, n_email,
              CAST(len(regexp_extract_all(t1, '[0-9]+')) AS BIGINT) AS n_num,
              regexp_replace(t1, '[0-9]+', '<NUM>', 'g') AS red
              FROM s1)
            SELECT doc_id, n_email, n_num,
              CAST(len(red) AS BIGINT) AS red_len,
              substr(md5(red), 1, 16) AS red_fp
            FROM s2 ORDER BY doc_id"""))

  /** Vocabulary coverage / OOV rate: per-document share of tokens outside
    * the corpus's top-100 vocabulary — the tokenizer-coverage probe run
    * before committing to a vocab. The vocabulary head is a TakeOrdered
    * top-k (no global sort) with a total (count DESC, word ASC) tiebreak,
    * and is broadcast into the token join, so the big side never
    * shuffles for the membership test; the per-doc aggregate is
    * partial+final.
    */
  private val vocabCoverage = Q(
    "q_vocab_coverage",
    (spark, dir) => {
      val toks = Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(TextOps.wordsNative(lower(col("text")))).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
        .select(col("w"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count_if(col("in_vocab").isNull).as("oov"),
          pround(count_if(col("in_vocab").isNull).cast("double") /
            count(lit(1)).cast("double"), 4).as("oov_rate"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, UNNEST(list_filter(string_split(lower(text), ' '),
                            w -> w <> '')) AS w
                          FROM documents),
            wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
            vocab AS (SELECT w, 1 AS in_vocab FROM wc ORDER BY c DESC, w LIMIT 100)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) FILTER (WHERE v.in_vocab IS NULL) AS BIGINT) AS oov,
              FLOOR((CAST(COUNT(*) FILTER (WHERE v.in_vocab IS NULL) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS oov_rate
            FROM toks t LEFT JOIN vocab v ON t.w = v.w
            GROUP BY doc_id ORDER BY doc_id"""))

  /** Collocation mining: top-20 bigrams by pointwise mutual information,
    * PMI = log2(cnt·N / (cnt_left·cnt_right)) over positional marginals —
    * all counts are integers, so both engines feed log2 the identical
    * double and pround(4) absorbs libm ulp (the q_lm_perplexity
    * discipline). Marginals come from re-aggregating the bigram counts
    * (no second corpus pass); the scalar total is a broadcast single-row
    * join (zipf idiom); min-support 5 prunes noise. Ranking is total:
    * (rounded PMI DESC, w1, w2) then TakeOrdered.
    */
  private val pmiCollocations = Q(
    "q_pmi_collocations",
    (spark, dir) => {
      // cached: feeds both marginal aggs, the total, and the scored join;
      // released by the harness's post-query Caches.releaseAll()
      val bg = Caches.persisted(Tables(spark, dir, "documents")
        .select(explode(TextOps.wordNGramsAll(col("text"), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt")))
      val left = bg.groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
      val right = bg.groupBy(col("w2")).agg(sum(col("cnt")).as("c2"))
      val total = bg.agg(sum(col("cnt")).as("nb"))
      bg.filter(col("cnt") >= 5)
        .join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("cnt"),
          pround(log2(col("cnt").cast("double") * col("nb").cast("double") /
            (col("c1").cast("double") * col("c2").cast("double"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            bgr AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                    FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
                    WHERE len(ws) >= 2),
            bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bgr GROUP BY w1, w2),
            l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM bg GROUP BY w1),
            r AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM bg GROUP BY w2),
            t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nb FROM bg)
            SELECT w1, w2, cnt,
              FLOOR((log2(CAST(cnt AS DOUBLE) * CAST(nb AS DOUBLE)
                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))) * 10000 + 0.5) / 10000 AS pmi
            FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
            WHERE cnt >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 20"""))

  /** BM25 relevance scoring: top-20 documents for a fixed 3-term query
    * (k1 = 1.2, b = 0.75) — the retrieval-side scorer that pairs with the
    * inverted index. Every statistic funnels through exact integers
    * (term frequencies, document frequencies, document lengths; avgdl is
    * a ratio of exact sums), so the only float work is the final per-term
    * formula — both engines compute identical inputs. Corpus stats are
    * single-row / 3-row broadcasts; the per-doc score is a ≤3-term sum;
    * ranking is TakeOrdered on (rounded score, doc_id).
    */
  private val bm25 = Q(
    "q_bm25",
    (spark, dir) => {
      val terms = Seq("spark", "window", "hash")
      val docs = Tables(spark, dir, "documents")
      val words = docs.select(col("doc_id"),
        explode(TextOps.wordsNative(col("text"))).as("w"))
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
      val tf = words.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = docs.select(explode(TextOps.distinctWordNGrams(col("text"), 1)).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val k1 = 1.2; val b = 0.75
      tf.join(broadcast(df), "w").join(dl, "doc_id").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf").cast("double") * (k1 + 1)) /
            (col("tf").cast("double") +
              (col("dl").cast("double") / col("avgdl") * b + (1 - b)) * k1)).as("s"))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("s")), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some("""WITH words AS (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                             w -> w <> '')) AS w
                           FROM documents),
            dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM words GROUP BY doc_id),
            stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
                      FROM dl),
            tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM words
                   WHERE w IN ('spark', 'window', 'hash') GROUP BY doc_id, w),
            df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM words
                   WHERE w IN ('spark', 'window', 'hash') GROUP BY w),
            scored AS (SELECT tf.doc_id,
                         ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                           * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE)
                              + (CAST(dl.dl AS DOUBLE) / avgdl * 0.75 + 0.25) * 1.2) AS s
                       FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id
                       CROSS JOIN stats)
            SELECT doc_id, FLOOR((SUM(s)) * 10000 + 0.5) / 10000 AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT 20"""))

  /** All-pairs document cosine similarity over TF-IDF vectors (the
    * content-similarity leg that complements MinHash's set-overlap view):
    * top-20 most similar pairs. The pair space is bounded by DISCO-style
    * document-frequency pruning — only terms with 2 ≤ df ≤ 50 join pairs
    * (df=1 terms can't link documents; high-df terms contribute near-zero
    * idf weight while exploding the join fan-out), so the posting-list
    * self-join is linear in posting mass, never |docs|². Same tf-idf
    * formula as q_tfidf; norms are over the same pruned vector space so
    * the statistic is a true cosine there. Float sums are of identical
    * per-term values on both engines (functions of exact integers);
    * pround(4) absorbs ordering ulp, and the ranking orders by the
    * rounded value (house rule).
    */
  private val cosinePairs = Q(
    "q_cosine_pairs",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val (tf, dt, dfAll) = termCounts(docs)
      val df = dfAll.filter(col("df") >= 2 && col("df") <= 50)
      val n = docs.select(countDistinct(col("doc_id")).as("n"))
      // cached: consumed by the norm aggregate and both join sides;
      // released by the harness post-query
      val v = Caches.persisted(
        tf.join(dt, "doc_id").join(broadcast(df), "word").crossJoin(broadcast(n))
          .select(col("doc_id"), col("word"),
            ((col("tf").cast("double") / col("dt")) *
              log(col("n").cast("double") / col("df"))).as("x")))
      val norms = v.groupBy(col("doc_id")).agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
      val a = v.select(col("doc_id").as("doc_a"), col("word"), col("x").as("xa"))
      val b = v.select(col("doc_id").as("doc_b"), col("word"), col("x").as("xb"))
      a.join(b, "word").filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("xa") * col("xb")).as("dot"))
        .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          pround(col("dot") / (col("na") * col("nb")), 4).as("cos"))
        .orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },
    Some("""WITH wd AS (SELECT doc_id, word FROM
                          (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
                        WHERE word <> ''),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wd GROUP BY doc_id, word),
            dt AS (SELECT doc_id, COUNT(*) AS dt FROM wd GROUP BY doc_id),
            df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM wd GROUP BY word
                   HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
            v AS (SELECT tf.doc_id, tf.word,
                    (CAST(tf.tf AS DOUBLE) / dt.dt) * ln(CAST(n.n AS DOUBLE) / df.df) AS x
                  FROM tf JOIN dt ON tf.doc_id = dt.doc_id
                  JOIN df ON tf.word = df.word CROSS JOIN n),
            norms AS (SELECT doc_id, sqrt(SUM(x * x)) AS nrm FROM v GROUP BY doc_id),
            dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.x * b.x) AS dot
                     FROM v a JOIN v b ON a.word = b.word AND a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
              FLOOR((dot / (na.nrm * nb.nrm)) * 10000 + 0.5) / 10000 AS cos
            FROM dots JOIN norms na ON dots.doc_a = na.doc_id
            JOIN norms nb ON dots.doc_b = nb.doc_id
            ORDER BY cos DESC, doc_a, doc_b LIMIT 20"""))

  /** Exact-substring contamination probe: how many documents contain each
    * of a fixed probe set (the decontamination check a training corpus
    * runs against benchmark strings). The probes are inlined literals
    * fanned per row — a pure map-side scan with a probe-bounded
    * aggregate; at scale this is one linear pass however many probes
    * ride along (complements the fuzzy q_contamination / q_ngram_coverage
    * legs with the exact-match one).
    */
  private val probeScan = Q(
    "q_probe_scan",
    (spark, dir) => {
      val probes = Seq("spark shuffle", "hash join", "window frame")
      Tables(spark, dir, "documents")
        .select(col("text"), explode(array(probes.map(lit): _*)).as("probe"))
        .groupBy(col("probe"))
        .agg(count_if(contains(col("text"), col("probe"))).as("n_docs"))
        .orderBy(col("probe"))
    },
    Some("""SELECT probe, CAST(COUNT(*) FILTER (WHERE contains(text, probe)) AS BIGINT) AS n_docs
            FROM documents,
                 (SELECT UNNEST(['spark shuffle', 'hash join', 'window frame']) AS probe)
            GROUP BY probe ORDER BY probe"""))

  /** CCNet-style quality bucketing: score every document with the
    * corpus-trained bigram LM (the q_lm_perplexity pipeline), then split
    * the corpus into head/middle/tail terciles of average NLL — the
    * standard construction for perplexity-filtered training mixes. The
    * tercile boundary is a global rank, computed with the distributed
    * row-numbering primitive (no single-task window); the bucket index
    * is the exact integer formula ((rn−1)·3) div n + 1, so both engines
    * cut at identical rows — no float quantile boundary to disagree on.
    * Ordering ties on the pround(4)'d score break on doc_id, making the
    * rank total. Output is the bounded 3-row mix audit.
    */
  private val ccnetBucket = Q(
    "q_ccnet_bucket",
    (spark, dir) => {
      val (docBg, probs) = bigramLm(spark, dir)
      val scored = docBg.join(probs, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("dcnt").cast("double") * -log2(col("p"))) /
          sum(col("dcnt").cast("double")), 4).as("avg_nll"))
      val (ranked, n) = graft.functions.Ranks.withGlobalRowNumber(
        scored, Seq(col("avg_nll"), col("doc_id")), "rn")
      ranked
        .select(col("avg_nll"),
          expr(s"CAST((rn - 1) * 3 div ${n}L AS INT) + 1").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          pround(avg(col("avg_nll")), 4).as("mean_nll"),
          min(col("avg_nll")).as("min_nll"),
          max(col("avg_nll")).as("max_nll"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH $bigramLmCtes,
            scored AS (SELECT doc_id,
                         FLOOR((SUM(CAST(dcnt AS DOUBLE) * -log2(p))
                           / SUM(CAST(dcnt AS DOUBLE))) * 10000 + 0.5) / 10000 AS avg_nll
                       FROM dbg JOIN p USING (w1, w2) GROUP BY doc_id),
            ranked AS (SELECT avg_nll,
                         CAST((ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) - 1) * 3
                           // COUNT(*) OVER () AS INT) + 1 AS bucket
                       FROM scored)
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
              FLOOR((AVG(avg_nll)) * 10000 + 0.5) / 10000 AS mean_nll,
              MIN(avg_nll) AS min_nll, MAX(avg_nll) AS max_nll
            FROM ranked GROUP BY bucket ORDER BY bucket"""))

  /** First BPE merge round: the 20 most frequent adjacent character
    * pairs inside words (no cross-space pairs) — the statistic a
    * byte-pair-encoding tokenizer trainer computes before its first
    * merge. Positions fan out per character (same cost class as
    * q_char_count's explode), counts are one partial+final hash
    * aggregate, and the head is a TakeOrdered. BMP-only fixture
    * assumption documented at q_char_count applies (substring indexes
    * UTF-16 units on both engines' synthetic corpus).
    */
  private val bpePairs = Q(
    "q_bpe_pairs",
    (spark, dir) =>
      Tables(spark, dir, "documents")
        // native one-pass pair scan (plans.CharPairs) — value-identical to
        // the substring HOF chain the oracle replays, ~3x faster
        .select(explode(TextOps.charPairs(col("text"))).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20),
    Some("""SELECT substr(text, i, 2) AS pair, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM documents, UNNEST(generate_series(1, len(text) - 1)) AS u(i)
            WHERE NOT contains(substr(text, i, 2), ' ')
            GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Kneser-Ney smoothed bigram probabilities (absolute discount
    * d = 0.75) for the 20 most frequent bigrams — the LM-estimation
    * upgrade over q_bigram_lm's raw MLE: P(w2|w1) = max(c12−d, 0)/c1 +
    * (d·N1+(w1,·)/c1)·(N1+(·,w2)/|types|), where the continuation
    * counts N1+ are distinct-neighbor counts. Everything up to the
    * final per-row formula is exact integer aggregation: bigram counts,
    * left/right distinct-neighbor counts (each one hash aggregate over
    * the bigram-count relation — vocabulary-bounded), and the global
    * type count as a broadcast scalar. The head is TakeOrdered; the
    * formula runs on 20 rows.
    */
  private val knBigram = Q(
    "q_kn_bigram",
    (spark, dir) => {
      // cached: the continuation counts and the head all derive from the
      // bigram-count relation; released by the harness post-query
      val bg = graft.Caches.persisted(
        Tables(spark, dir, "documents")
          .select(explode(TextOps.wordNGramsAll(col("text"), 2)).as("bg"))
          .select(substring_index(col("bg"), " ", 1).as("w1"),
            substring_index(col("bg"), " ", -1).as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val c1 = bg.groupBy(col("w1"))
        .agg(sum(col("c12")).cast("bigint").as("c1"),
          count(lit(1)).cast("bigint").as("nfwd")) // N1+(w1, ·)
      val nback = bg.groupBy(col("w2"))
        .agg(count(lit(1)).cast("bigint").as("nback")) // N1+(·, w2)
      val types = broadcast(bg.agg(count(lit(1)).cast("bigint").as("t")))
      bg.orderBy(col("c12").desc, col("w1"), col("w2")).limit(20)
        .join(c1, "w1").join(nback, "w2").crossJoin(types)
        .select(col("w1"), col("w2"), col("c12").cast("bigint").as("cnt"),
          pround(
            greatest(col("c12").cast("double") - 0.75, lit(0.0)) / col("c1").cast("double") +
              (lit(0.75) * col("nfwd").cast("double") / col("c1").cast("double")) *
                (col("nback").cast("double") / col("t").cast("double")), 4)
            .as("p_kn"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            bgr AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                    FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
                    WHERE len(ws) >= 2),
            bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bgr GROUP BY w1, w2),
            c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                     CAST(COUNT(*) AS BIGINT) AS nfwd FROM bg GROUP BY w1),
            nb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nback FROM bg GROUP BY w2),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bg),
            head AS (SELECT w1, w2, c12 FROM bg ORDER BY c12 DESC, w1, w2 LIMIT 20)
            SELECT h.w1, h.w2, h.c12 AS cnt,
              FLOOR((GREATEST(CAST(h.c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
                  + (0.75 * CAST(c1.nfwd AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
                    * (CAST(nb.nback AS DOUBLE) / CAST(t.t AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS p_kn
            FROM head h JOIN c1 ON c1.w1 = h.w1 JOIN nb ON nb.w2 = h.w2 CROSS JOIN t
            ORDER BY cnt DESC, h.w1, h.w2"""))

  /** Nucleus (top-p) vocabulary cut: the smallest frequency-ordered
    * vocabulary prefix covering p ∈ {50, 90, 95}% of corpus token mass —
    * the tokenizer-design report behind "how big must the vocab be".
    * The cumulative mass over the (count DESC, word) total order comes
    * from the distributed prefix-sum primitive, NOT an unpartitioned
    * window, so the vocab-sized relation never lands in one task; the
    * three thresholds are ceil-divided integers (⌈tot·p/100⌉ =
    * (tot·p+99) div 100) broadcast against it, and a row belongs to the
    * p-nucleus iff its EXCLUSIVE prefix (cum − n) is below the threshold
    * — pure integer comparisons on both engines.
    */
  private val nucleusVocab = Q(
    "q_nucleus_vocab",
    (spark, dir) => {
      val vocab = Tables(spark, dir, "documents")
        .select(explode(TextOps.wordsNative(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val c = graft.functions.Prefix.withRunningTotals(
        vocab, Seq(col("n").desc, col("word")), Seq("n"))
      val tot = broadcast(c.agg(max(col("n_cum")).as("tot")))
      val probes = broadcast(tot
        .select(explode(expr("array(50, 90, 95)")).as("p"), col("tot"))
        .select(col("p"), expr("(tot * p + 99) div 100").as("thr")))
      c.join(probes, col("n_cum") - col("n") < col("thr"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("vocab_size"), max(col("n_cum")).as("tokens_covered"))
        .select(col("p").cast("int").as("p"), col("vocab_size"), col("tokens_covered"))
        .orderBy(col("p"))
    },
    Some("""WITH w AS (SELECT x AS word FROM documents,
              UNNEST(list_filter(string_split(text, ' '), y -> y <> '')) AS t(x)),
            v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word),
            c AS (SELECT word, n,
              CAST(SUM(n) OVER (ORDER BY n DESC, word) AS BIGINT) AS n_cum FROM v),
            tt AS (SELECT MAX(n_cum) AS tot FROM c),
            probes AS (SELECT p, (tot * p + 99) // 100 AS thr
                       FROM UNNEST([50, 90, 95]) AS t(p), tt)
            SELECT CAST(p AS INT) AS p, CAST(COUNT(*) AS BIGINT) AS vocab_size,
              CAST(MAX(n_cum) AS BIGINT) AS tokens_covered
            FROM c JOIN probes ON n_cum - n < thr
            GROUP BY p ORDER BY p"""))

  /** Tokenizer fertility by source: chars-per-token and tokens-per-doc —
    * the compression report that compares how expensively each corpus
    * source tokenizes (the whitespace tokenizer stands in for BPE; the
    * ratio structure is identical). One partial+final aggregate on
    * source; the two ratios divide exact integer sums and round at 4/2dp
    * portably.
    */
  private val tokenizerFertility = Q(
    "q_tokenizer_fertility",
    (spark, dir) => {
      Tables(spark, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("nc"),
          TextOps.tokenStats(col("text")).getField("n_tokens").cast("long").as("tc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("tc")).as("tokens"),
          sum(col("nc")).as("chars"))
        .select(col("source"), col("docs"), col("tokens"), col("chars"),
          // all-empty-source guard: x/0 is Infinity-vs-engine-dependent
          when(col("tokens") === 0, lit(null).cast("double"))
            .otherwise(pround(col("chars").cast("double") / col("tokens").cast("double"), 4))
            .as("chars_per_token"),
          pround(col("tokens").cast("double") / col("docs").cast("double"), 2)
            .as("tokens_per_doc"))
        .orderBy(col("source"))
    },
    Some("""WITH s AS (SELECT source, CAST(n_chars AS BIGINT) AS nc,
              CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tc
            FROM documents)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
              CAST(SUM(tc) AS BIGINT) AS tokens, CAST(SUM(nc) AS BIGINT) AS chars,
              CASE WHEN SUM(tc) = 0 THEN NULL
                   ELSE FLOOR((CAST(SUM(nc) AS DOUBLE) / CAST(SUM(tc) AS DOUBLE)) * 10000 + 0.5) / 10000
              END AS chars_per_token,
              FLOOR((CAST(SUM(tc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 100 + 0.5) / 100
                AS tokens_per_doc
            FROM s GROUP BY source ORDER BY source"""))

  /** Language-mix audit: per corpus source, the number of distinct
    * languages, document count, and the Shannon entropy (bits) of its
    * language distribution — the multilingual-balance report behind
    * sampling decisions. Same portable entropy funnel as q_char_entropy:
    * H = log2(N) − Σ c·log2(c) / N over exact integer counts, rounded at
    * 4dp. Two nested hash aggregates, both partial+final; output bounded
    * by sources × languages.
    */
  private val langMix = Q(
    "q_lang_mix",
    (spark, dir) => {
      Tables(spark, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_langs"), sum(col("c")).cast("bigint").as("docs"),
          pround(
            log2(sum(col("c")).cast("double")) -
              sum(col("c").cast("double") * log2(col("c").cast("double"))) /
                sum(col("c")).cast("double"), 4).as("lang_entropy"))
        .orderBy(col("source"))
    },
    Some("""WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                       FROM documents GROUP BY source, lang)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs,
              CAST(SUM(c) AS BIGINT) AS docs,
              FLOOR((log2(CAST(SUM(c) AS DOUBLE))
                - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                  / CAST(SUM(c) AS DOUBLE)) * 10000 + 0.5) / 10000 AS lang_entropy
            FROM c GROUP BY source ORDER BY source"""))

  /** Frequency-of-frequencies (the hapax spectrum): how many word types
    * occur exactly n times — the N_n table Good-Turing smoothing reads
    * and the first diagnostic of vocabulary sparsity (hapax share).
    * Complements q_zipf_stats (rank-based) and q_nucleus_vocab
    * (cumulative-mass): this is the type-count marginal. Two nested
    * integer aggregates plus a broadcast 1-row type total; output
    * bounded by distinct frequencies (limited to the first 20 — the
    * Good-Turing region).
    */
  private val freqOfFreq = Q(
    "q_freq_of_freq",
    (spark, dir) => {
      val v = Tables(spark, dir, "documents")
        .select(explode(TextOps.wordsNative(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val ff = v.groupBy(col("n")).agg(count(lit(1)).as("types"))
      val tot = broadcast(ff.agg(sum(col("types")).as("v")))
      ff.crossJoin(tot)
        .select(col("n"), col("types"),
          pround(col("types").cast("double") / col("v").cast("double"), 4)
            .as("type_share"))
        .orderBy(col("n"))
        .limit(20)
    },
    Some("""WITH w AS (SELECT x AS word FROM documents,
              UNNEST(list_filter(string_split(text, ' '), y -> y <> '')) AS t(x)),
            v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word),
            ff AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS types FROM v GROUP BY n),
            tt AS (SELECT CAST(SUM(types) AS BIGINT) AS v FROM ff)
            SELECT n, types,
              FLOOR((CAST(types AS DOUBLE) / CAST(v AS DOUBLE)) * 10000 + 0.5) / 10000
                AS type_share
            FROM ff CROSS JOIN tt ORDER BY n LIMIT 20"""))

  /** Good-Turing smoothed counts — the estimator q_freq_of_freq's N_n
    * table exists to feed: r* = (r+1)·N_{r+1}/N_r for the low-frequency
    * region r ≤ 10, plus the leave-one-out probability mass the r-count
    * words keep (r*·N_r / N_tokens) — the discounting step under every
    * classical LM smoother and the standard "how much mass belongs to
    * unseen events" diagnostic (P₀ = N_1/N). Both relations in the
    * formula are frequency-bounded aggregates; the adjacency join
    * (N_r ⋈ N_{r+1}) runs over the ≤ max-frequency-row spectrum, and
    * every ratio divides exact integers with a 4dp portable round.
    */
  private val goodTuring = Q(
    "q_good_turing",
    (spark, dir) => {
      // bigram, not unigram, level: the synthetic corpus reuses a small
      // vocabulary so heavily that no WORD is rare (min count 29 even at
      // sf0.001) — the hapax region Good-Turing discounts lives at the
      // bigram level (N_1 = 9 at sf0.001), which is also where LM
      // smoothing actually applies it
      val v = Tables(spark, dir, "documents")
        .select(explode(TextOps.wordNGramsAll(col("text"), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      val ff = graft.Caches.persisted(
        v.groupBy(col("n")).agg(count(lit(1)).as("types")))
      val tot = broadcast(ff.agg(
        sum(col("n") * col("types")).cast("bigint").as("n_tokens")))
      val nxt = ff.select(col("n").as("n2"), col("types").as("types_next"))
      ff.filter(col("n") <= 10)
        .join(nxt, col("n2") === col("n") + 1, "left_outer")
        .crossJoin(tot)
        .select(col("n").cast("bigint").as("r"), col("types").cast("bigint").as("n_r"),
          coalesce(col("types_next"), lit(0L)).cast("bigint").as("n_r1"),
          col("n_tokens"))
        .select(col("r"), col("n_r"), col("n_r1"),
          when(col("n_r1") === 0, lit(null).cast("double"))
            .otherwise(pround((col("r") + 1).cast("double") *
              col("n_r1").cast("double") / col("n_r").cast("double"), 4))
            .as("r_star"),
          // r*·N_r / N = (r+1)·N_{r+1} / N — the probability mass the
          // r-count words keep after discounting
          when(col("n_r1") === 0, lit(null).cast("double"))
            .otherwise(pround((col("r") + 1).cast("double") *
              col("n_r1").cast("double") / col("n_tokens").cast("double"), 4))
            .as("mass_share"))
        .orderBy(col("r"))
    },
    Some("""WITH toks AS (SELECT list_filter(string_split(text, ' '), y -> y <> '') AS ws
                     FROM documents),
            bg AS (SELECT ws[i] || ' ' || ws[i+1] AS g
                   FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
                   WHERE len(ws) >= 2),
            v AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY g),
            ff AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS types FROM v GROUP BY n),
            tt AS (SELECT CAST(SUM(n * types) AS BIGINT) AS n_tokens FROM ff),
            j AS (SELECT a.n AS r, a.types AS n_r,
                    CAST(COALESCE(b.types, 0) AS BIGINT) AS n_r1
                  FROM ff a LEFT JOIN ff b ON b.n = a.n + 1
                  WHERE a.n <= 10)
            SELECT r, n_r, n_r1,
              CASE WHEN n_r1 = 0 THEN NULL
                   ELSE FLOOR((CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                     / CAST(n_r AS DOUBLE)) * 10000 + 0.5) / 10000 END AS r_star,
              CASE WHEN n_r1 = 0 THEN NULL
                   ELSE FLOOR((CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000 END AS mass_share
            FROM j CROSS JOIN tt ORDER BY r"""))

  /** Second BPE merge round — the iterative step q_bpe_pairs (round 1)
    * stops short of: apply the round-1 winner as an actual merge and
    * re-count. The top space-free adjacent pair becomes one atomic
    * symbol via a global left-to-right `replace` (exactly BPE's greedy
    * merge; `replace` is non-regex and byte-identical in both engines),
    * encoded as chr(1) — a codepoint the corpus cannot contain — and the
    * round-2 pair census runs over the merged text with the new symbol
    * rendered as '<pair>'. This is the real vocabulary-construction
    * loop: round N's counts depend on round N-1's merge, which is why
    * BPE training is iterative and why each round is one broadcast
    * scalar (the winning pair) + one linear pass — no state beyond the
    * 1-row merge table ever leaves the executors.
    */
  private val bpeMerge2 = Q(
    "q_bpe_merge2",
    (spark, dir) => {
      val top1 = broadcast(Tables(spark, dir, "documents")
        .select(explode(TextOps.charPairs(col("text"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .select(col("pair").as("mp")))
      val merged = Tables(spark, dir, "documents").crossJoin(top1)
        .select(expr("replace(text, mp, char(1))").as("t"), col("mp"))
      val sym = expr("char(1)")
      merged
        // native pair scan again over the merged text (chr(1) is atomic)
        .select(col("mp"), explode(TextOps.charPairs(col("t"))).as("pair"))
        .select(col("mp"),
          substring(col("pair"), 1, 1).as("a"), substring(col("pair"), 2, 1).as("b"))
        .select(
          when(col("a") === sym, concat(lit("<"), col("mp"), lit(">")))
            .otherwise(col("a")).as("s1"),
          when(col("b") === sym, concat(lit("<"), col("mp"), lit(">")))
            .otherwise(col("b")).as("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).cast("bigint").as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(10)
    },
    Some("""WITH p1 AS (SELECT substr(text, i, 2) AS pair
                        FROM documents, UNNEST(generate_series(1, len(text) - 1)) AS u(i)
                        WHERE NOT contains(substr(text, i, 2), ' ')),
            top1 AS (SELECT pair AS mp FROM (
                       SELECT pair, COUNT(*) AS c FROM p1 GROUP BY pair
                       ORDER BY c DESC, pair LIMIT 1)),
            m AS (SELECT replace(text, mp, chr(1)) AS t, mp FROM documents, top1),
            p2 AS (SELECT substr(t, i, 1) AS a, substr(t, i + 1, 1) AS b, mp
                   FROM m, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
            f AS (SELECT CASE WHEN a = chr(1) THEN '<' || mp || '>' ELSE a END AS s1,
                         CASE WHEN b = chr(1) THEN '<' || mp || '>' ELSE b END AS s2
                  FROM p2 WHERE a <> ' ' AND b <> ' ')
            SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM f GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 10"""))

  /** BPE tokenizer training, the full loop — q_bpe_pairs is round 1's
    * census and q_bpe_merge2 the single iterative step; THIS is the
    * vocabulary construction they build toward: 4 merge rounds, each
    * censusing adjacent space-free symbol pairs over the current corpus
    * (the codegen'd CharPairs scan), picking the most frequent pair
    * (count DESC, pair ASC — binary-identical tiebreak in both engines),
    * merging it corpus-wide into the atomic sentinel chr(round) via the
    * non-regex left-to-right `replace`, and recording the merge table
    * row (rank, merged string fully expanded, census count at selection
    * time) — exactly the merges.txt a BPE trainer emits.
    *
    * Driver-side state is the 1-row winner per round (the KMeans
    * bounded-model-state convention; the build executes those 4 tiny
    * jobs at plan time — the Registry's documented cache-materializing
    * convention). Each round's merged corpus is persisted so round r
    * censuses one linear pass, not the whole replace chain from parquet.
    * Sentinels chr(1..4) cannot collide with the printable corpus. At
    * 100 TB each round is one codegen'd scan + one hash aggregate + one
    * broadcast-scalar replace pass — the textbook distributed-BPE shape
    * (vocabulary rounds are inherently sequential; parallelism lives
    * inside each census).
    *
    * The oracle replays the identical 4 rounds as unrolled CTEs
    * (q_recursive_sql precedent), rendering each winner by expanding
    * earlier sentinels with nested replace.
    */
  /** The 4-round trainer loop itself: per round, (raw winning pair —
    * possibly containing earlier sentinels — its census count, and its
    * fully-rendered expansion). Shared by q_bpe_train (the merge table)
    * and q_bpe_encode (applying the merges).
    */
  private[graft] def bpeWinners(spark: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int = 4): Seq[(String, Long, String)] =
    // spread the under-split scan once: every round's persisted corpus
    // inherits this partitioning, so all 4 censuses + the final encode
    // scan parallelize (serial CharPairs scans otherwise — r10 telemetry:
    // ~1.3 effective cores across the whole loop)
    bpeWinnersOf(Tables.spreadIfUnderSplitAtScale(
      Tables(spark, dir, "documents").select(col("text"))), rounds)

  /** The same trainer over ANY (text) corpus relation — the seam
    * q_bpe_sampled trains its hash-sampled slice through.
    */
  private[graft] def bpeWinnersOf(corpus0: org.apache.spark.sql.DataFrame,
      rounds: Int = 4): Seq[(String, Long, String)] = {
    var cur = corpus0.select(col("text").as("t"))
    var exps = Map.empty[Char, String] // sentinel -> fully-rendered expansion
    val merges = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    var dry = false
    for (r <- 1 to rounds if !dry) {
      val top = cur.select(explode(TextOps.charPairs(col("t"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val mp = top(0).getString(0)
        val rendered = mp.flatMap(ch => exps.getOrElse(ch, ch.toString))
        merges += ((mp, top(0).getLong(1), rendered))
        exps += (r.toChar -> rendered)
        cur = graft.Caches.persisted(
          cur.select(org.apache.spark.sql.functions
            .replace(col("t"), lit(mp), lit(r.toChar.toString)).as("t")))
      }
    }
    merges.toSeq
  }

  private val bpeTrain = Q(
    "q_bpe_train",
    (spark, dir) => {
      import spark.implicits._
      bpeWinners(spark, dir).zipWithIndex
        .map { case ((_, c, rendered), i) => (i + 1, rendered, c) }
        .toDF("rank", "pair", "cnt")
        .select(col("rank").cast("int").as("rank"), col("pair"),
          col("cnt").cast("bigint").as("cnt"))
        .orderBy(col("rank"))
    },
    Some {
      val rows = (1 to 4).map { r =>
        val from = (1 to r).map(k => s"w$k").mkString(", ")
        s"SELECT $r AS rank, ${bpeExpSql(r)} AS pair, w$r.c AS cnt FROM $from"
      }.mkString(" UNION ALL ")
      s"""${bpeRoundsCte(carrySource = false, materializeLast = false)},
          sel AS ($rows)
          SELECT CAST(rank AS INT) AS rank, pair, cnt FROM sel ORDER BY rank"""
    })

  /** Oracle CTE chain for the 4 BPE rounds: t0..t{3|4} (merged corpora),
    * p1..p4 (pair censuses), w1..w4 (winners). `carrySource` threads the
    * source column through the t CTEs (q_bpe_encode's per-source report);
    * `materializeLast` emits t4 (the fully-merged corpus) for consumers
    * that read it.
    */
  private def bpeRoundsCte(carrySource: Boolean, materializeLast: Boolean): String =
    "WITH " + bpeRoundsCteBody(carrySource, materializeLast)

  /** CTE-name-prefixed, source-parameterized variant (no leading WITH), so
    * one query can run TWO training chains (q_bpe_sampled: full corpus +
    * hash-sampled slice).
    */
  private def bpeRoundsCteBody(carrySource: Boolean, materializeLast: Boolean,
      pfx: String = "", srcSql: String = "documents"): String = {
    val srcCol = if (carrySource) "source, " else ""
    def census(src: String, p: String): String =
      s"""$p AS (SELECT substr(t, i, 2) AS pair
                 FROM $src, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
                 WHERE NOT contains(substr(t, i, 2), ' '))"""
    def winner(p: String, w: String): String =
      s"""$w AS (SELECT pair AS mp, CAST(c AS BIGINT) AS c FROM (
                   SELECT pair, COUNT(*) AS c FROM $p GROUP BY pair
                   ORDER BY c DESC, pair LIMIT 1))"""
    val cte = new StringBuilder(
      s"${pfx}t0 AS (SELECT ${srcCol}text AS t FROM $srcSql)")
    for (r <- 1 to 4) {
      cte.append(", ").append(census(s"${pfx}t${r - 1}", s"${pfx}p$r"))
      cte.append(", ").append(winner(s"${pfx}p$r", s"${pfx}w$r"))
      if (r < 4 || materializeLast)
        cte.append(s", ${pfx}t$r AS (SELECT ${srcCol}replace(${pfx}t${r - 1}.t, " +
          s"${pfx}w$r.mp, chr($r)) AS t FROM ${pfx}t${r - 1}, ${pfx}w$r)")
    }
    cte.toString
  }

  /** Fully-rendered expansion of round r's winner in SQL: expand
    * sentinels chr(r-1)..chr(1) with their own (already-rendered)
    * expansions via nested replace.
    */
  private def bpeExpSql(r: Int): String =
    (r - 1 to 1 by -1).foldLeft(s"w$r.mp") { (acc, k) =>
      s"replace($acc, chr($k), ${bpeExpSql(k)})"
    }

  /** BPE applied — the tokenizer-eval leg of training: run the 4-round
    * trainer ([[bpeWinners]]), apply the merge chain corpus-wide in ONE
    * projection, and report per source the symbol-stream compression the
    * learned vocabulary buys (raw space-free symbol count vs post-merge
    * count; each sentinel is one symbol — exactly how a BPE tokenizer's
    * token count falls as merges land). The per-source view ranks which
    * corpus slice the vocabulary serves best — the fertility-by-source
    * question q_tokenizer_fertility asks for the whitespace tokenizer,
    * answered for the TRAINED one.
    *
    * Scale posture: training is the q_bpe_train loop (sequential rounds,
    * one linear codegen'd pass each); encoding is one scan applying 4
    * literal replaces + two length projections; the report is one
    * partial+final aggregate on source. Degenerate guard: a source with
    * zero raw symbols reports NULL compression (the 0/0 rule).
    *
    * Oracle note: the unrolled t0→t4 cross-join chain assumes all 4
    * rounds find a winner (any non-trivial corpus does; a corpus with
    * documents but ZERO adjacent space-free pairs would empty the
    * chain). Fully-empty inputs degrade to empty on both engines.
    */
  private val bpeEncode = Q(
    "q_bpe_encode",
    (spark, dir) => {
      val mps = bpeWinners(spark, dir)
      val merged = mps.zipWithIndex.foldLeft(col("text")) { case (c, ((mp, _, _), i)) =>
        org.apache.spark.sql.functions.replace(c, lit(mp), lit((i + 1).toChar.toString))
      }
      Tables(spark, dir, "documents")
        .select(col("source"),
          length(translate(col("text"), " ", "")).cast("long").as("raw"),
          length(translate(merged, " ", "")).cast("long").as("bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("raw")).cast("bigint").as("raw_units"),
          sum(col("bpe")).cast("bigint").as("bpe_units"))
        .select(col("source"), col("n_docs"), col("raw_units"), col("bpe_units"),
          when(col("raw_units") === 0, lit(null).cast("double"))
            .otherwise(pround(col("bpe_units").cast("double") /
              col("raw_units").cast("double"), 4)).as("compression"))
        .orderBy(col("source"))
    },
    Some(s"""${bpeRoundsCte(carrySource = true, materializeLast = true)},
             raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(length(replace(t, ' ', ''))) AS BIGINT) AS raw_units
                     FROM t0 GROUP BY source),
             enc AS (SELECT source,
                       CAST(SUM(length(replace(t, ' ', ''))) AS BIGINT) AS bpe_units
                     FROM t4 GROUP BY source)
             SELECT r.source, r.n_docs, r.raw_units, e.bpe_units,
               CASE WHEN r.raw_units = 0 THEN NULL
                    ELSE FLOOR((CAST(e.bpe_units AS DOUBLE)
                      / CAST(r.raw_units AS DOUBLE)) * 10000 + 0.5) / 10000
               END AS compression
             FROM raw r JOIN enc e ON e.source = r.source
             ORDER BY r.source"""))

  /** Sampled-corpus BPE training — the production answer to "a 30k-merge
    * vocabulary won't fly as 30k driver-coordinated Spark jobs over the
    * full corpus": train the vocabulary on a hash-sampled ~10% slice
    * (doc-level, hash60(doc_id) mod 10 — deterministic, hash-scattered,
    * both engines reproduce the slice exactly), then ENCODE THE FULL
    * corpus with it, side by side with full-corpus training. Reported
    * per trainer: training docs, full-corpus raw symbol units, encoded
    * units, compression — the measured claim that sampled training buys
    * (nearly) the same compression at a tenth the training scans, which
    * is what makes production-scale merge counts affordable (train on
    * the sample, encode corpus-wide; the encode pass was always linear).
    *
    * Scale posture: two [[bpeWinnersOf]] loops (sequential rounds, one
    * linear codegen'd census each — the sampled loop censuses ~10% of
    * the mass), then ONE full-corpus scan computing raw + both encodes
    * in a single projection feeding a 1-row aggregate, stacked to the
    * 2-row report. Degenerate guards: empty corpus → two rows of zeros
    * with NULL compression on both engines; an empty or dry SAMPLE →
    * sampled encode is a no-op (bpe_sampled = raw_units, compression
    * 1.0) on BOTH engines — the oracle's sampled-winner applications
    * LEFT JOIN each (≤1-row) winner and fall back to the previous text
    * when a round found none (ADVICE r11; property-tested on a planted
    * empty-sample corpus). The full-corpus training chain keeps
    * q_bpe_encode's all-rounds-find-a-winner fixture assumption
    * (documented there).
    */
  private val bpeSampled = Q(
    "q_bpe_sampled",
    (spark, dir) => {
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      val inSample =
        graft.functions.Portable.hash60(col("doc_id").cast("string")) % 10 === 0
      val fullW = bpeWinnersOf(docs.select(col("text")))
      val sampW = bpeWinnersOf(docs.filter(inSample).select(col("text")))
      def enc(ws: Seq[(String, Long, String)]) =
        ws.zipWithIndex.foldLeft(col("text")) { case (c, ((mp, _, _), i)) =>
          org.apache.spark.sql.functions.replace(c, lit(mp), lit((i + 1).toChar.toString))
        }
      docs.select(inSample.as("insample"),
          length(translate(col("text"), " ", "")).cast("long").as("raw"),
          length(translate(enc(fullW), " ", "")).cast("long").as("bf"),
          length(translate(enc(sampW), " ", "")).cast("long").as("bs"))
        .agg(count(lit(1)).cast("bigint").as("n_all"),
          count_if(col("insample")).cast("bigint").as("n_samp"),
          coalesce(sum(col("raw")), lit(0L)).cast("bigint").as("raw_units"),
          coalesce(sum(col("bf")), lit(0L)).cast("bigint").as("bpe_full"),
          coalesce(sum(col("bs")), lit(0L)).cast("bigint").as("bpe_sampled"))
        .selectExpr(
          "stack(2, 'full', n_all, bpe_full, 'sampled', n_samp, bpe_sampled) " +
            "AS (trainer, n_train_docs, bpe_units)",
          "raw_units")
        .select(col("trainer"), col("n_train_docs").cast("bigint").as("n_train_docs"),
          col("raw_units"), col("bpe_units").cast("bigint").as("bpe_units"),
          when(col("raw_units") === 0, lit(null).cast("double"))
            .otherwise(pround(col("bpe_units").cast("double") /
              col("raw_units").cast("double"), 4)).as("compression"))
        .orderBy(col("trainer"))
    },
    Some {
      val sampledSrc = "(SELECT text FROM documents WHERE " +
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0)"
      // each sampled-winner application LEFT-JOINs the (≤1-row) winner
      // and falls back to the previous text when the round found none
      // (ADVICE r11): an empty/dry SAMPLE must encode as a no-op —
      // matching Spark, which folds over only the winners actually
      // found — not collapse the chain to zero rows (the plain
      // cross-join behavior)
      val encs = (1 to 4).map { r =>
        val prev = if (r == 1) "t0" else s"e${r - 1}"
        s"""e$r AS (SELECT CASE WHEN sw$r.mp IS NULL THEN $prev.t
                         ELSE replace($prev.t, sw$r.mp, chr($r)) END AS t
                    FROM $prev LEFT JOIN sw$r ON TRUE)"""
      }.mkString(", ")
      s"""WITH ${bpeRoundsCteBody(carrySource = false, materializeLast = true)},
          ${bpeRoundsCteBody(carrySource = false, materializeLast = false,
            pfx = "s", srcSql = sampledSrc)},
          $encs,
          raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                    CAST(COALESCE(SUM(length(replace(t, ' ', ''))), 0) AS BIGINT)
                      AS raw_units
                  FROM t0),
          ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_samp FROM st0),
          ef AS (SELECT CAST(COALESCE(SUM(length(replace(t, ' ', ''))), 0) AS BIGINT)
                   AS bpe_full FROM t4),
          es AS (SELECT CAST(COALESCE(SUM(length(replace(t, ' ', ''))), 0) AS BIGINT)
                   AS bpe_sampled FROM e4),
          s AS (SELECT 'full' AS trainer, n_all AS n_train_docs, raw_units,
                  bpe_full AS bpe_units
                FROM raw, ef
                UNION ALL
                SELECT 'sampled', n_samp, raw_units, bpe_sampled
                FROM raw, ns, es)
          SELECT trainer, n_train_docs, raw_units, bpe_units,
            CASE WHEN raw_units = 0 THEN NULL
                 ELSE FLOOR((CAST(bpe_units AS DOUBLE)
                   / CAST(raw_units AS DOUBLE)) * 10000 + 0.5) / 10000
            END AS compression
          FROM s ORDER BY trainer"""
    })

  /** N-gram novelty decay — per-document share of word-3-grams this
    * document is the FIRST to use (first = lowest doc_id, the corpus'
    * arrival-order proxy), aggregated over doc_id deciles: the curve
    * that answers "how fast does a growing corpus stop contributing new
    * content" — the saturation measurement crawl scheduling and
    * dedup-budget planning read (novelty near zero means more of the
    * same; a flat high curve means the source keeps paying).
    *
    * Determinism: first-use is MIN(doc_id) per shingle (exact); per-doc
    * novelty is the INTEGER (n_novel·10⁶) div n_shingles; the decile is
    * integer arithmetic on doc_id against the broadcast max; per-bucket
    * means divide integer sums once (the q_dsir_weights rule).
    *
    * Scale posture: one shingle pass, one MIN aggregate keyed on the
    * shingle (uniform content hash), one join back on the same key, one
    * bounded 10-row report. Nothing pairwise, no windows.
    */
  private val ngramNovelty = Q(
    "q_ngram_novelty",
    (spark, dir) => {
      // both consumers key on the shingle: spread the under-split scan
      // (serial 3-gram explode otherwise — r10 telemetry: 5.8 s CPU under
      // 4.3 s wall), then pre-partition the cache on sh so one exchange
      // feeds the MIN aggregate and the join back (q_minhash_recall)
      val sh = Caches.persisted(
        Tables.spreadIfUnderSplitAtScale(Tables(spark, dir, "documents")
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            explode(TextOps.distinctWordNGrams(col("text"), 3)).as("sh"))
          .repartition(col("sh")))
      val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
      val perDoc = sh.join(first, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"),
          expr("(n_novel * 1000000) div n_sh").as("nov_u"))
      val mx = broadcast(
        Tables(spark, dir, "documents").agg(max(col("doc_id")).as("mx")))
      perDoc.crossJoin(mx)
        .select(expr("least(9, (doc_id * 10) div (mx + 1))").cast("int").as("decile"),
          col("nov_u"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          pround(sum(col("nov_u")).cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 4).as("mean_novelty"))
        .orderBy(col("decile"))
    },
    Some("""WITH toks AS (SELECT doc_id,
                            list_filter(string_split(text, ' '), w -> w <> '') AS ws
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
                   FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
                   WHERE len(ws) >= 3),
            first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
            perdoc AS (SELECT s.doc_id,
                         (SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                           * 1000000) // COUNT(*) AS nov_u
                       FROM sh s JOIN first f ON f.sh = s.sh
                       GROUP BY s.doc_id),
            mx AS (SELECT MAX(doc_id) AS mx FROM documents)
            SELECT CAST(LEAST(9, (p.doc_id * 10) // (mx.mx + 1)) AS INT) AS decile,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              FLOOR((CAST(SUM(p.nov_u) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE))
                * 10000 + 0.5) / 10000 AS mean_novelty
            FROM perdoc p CROSS JOIN mx
            GROUP BY 1 ORDER BY 1"""))

  /** Stupid Backoff scoring (Brants et al., EMNLP'07 "Large Language
    * Models in Machine Translation") — THE web-scale LM smoothing:
    * where Kneser-Ney (q_kn_bigram) needs continuation-count bookkeeping,
    * Stupid Backoff just scores S(w₂|w₁) = c₁₂/c₁ when the train bigram
    * exists, else 0.4·c₂/N — no normalization, chosen precisely because
    * it distributes trivially over MapReduce-scale corpora. Evaluated the
    * production way: train on doc_id % 10 ≠ 0, score every held-out
    * bigram token, report per SOURCE (the LM-quality-per-domain table):
    * tokens, train-bigram coverage in ppm, mean backoff score. Every
    * score is an exact integer before aggregation — c₁₂·10⁶ div c₁ and
    * c₂·400000 div N (0.4·10⁶ exact) — so the mean is one final division
    * of an exact µunit sum (the q_dsir_weights funnel).
    *
    * Scale posture (100 TB): train censuses are hash-partitioned
    * partial+final counts; held-out tokens LEFT-join the bigram and
    * unigram tables on their keys (vocabulary-bounded relations); N is a
    * 1-row broadcast; output is source-bounded.
    */
  private val stupidBackoff = Q(
    "q_stupid_backoff",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val bg = train
        .select(explode(TextOps.wordNGramsAll(col("text"), 2)).as("bgt"))
        .select(substring_index(col("bgt"), " ", 1).as("w1"),
          substring_index(col("bgt"), " ", -1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val uni = train
        .select(explode(TextOps.wordNGramsAll(col("text"), 1)).as("w2"))
        .groupBy(col("w2")).agg(count(lit(1)).as("c2"))
      val nTok = broadcast(uni.agg(coalesce(sum(col("c2")), lit(0L)).as("n")))
      val held = docs.filter(col("doc_id") % 10 === 0)
        .select(col("source"), explode(TextOps.wordNGramsAll(col("text"), 2)).as("bgt"))
        .select(col("source"), substring_index(col("bgt"), " ", 1).as("w1"),
          substring_index(col("bgt"), " ", -1).as("w2"))
      held.join(bg, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(uni, Seq("w2"), "left")
        .crossJoin(nTok)
        .select(col("source"),
          when(col("c12").isNotNull, 1L).otherwise(0L).as("hit"),
          when(col("c12").isNotNull, expr("c12 * 1000000 div c1"))
            .when(col("c2").isNotNull && col("n") > 0, expr("c2 * 400000 div n"))
            .otherwise(0L).as("score_u"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
          sum(col("hit")).cast("bigint").as("n_hits"),
          expr("sum(hit) * 1000000 div count(1)").cast("bigint").as("coverage_ppm"),
          pround(sum(col("score_u")).cast("double") /
            (count(lit(1)).cast("double") * 1e6), 6).as("mean_score"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (SELECT doc_id, source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS ws
                 FROM documents),
            bgr AS (SELECT t.ws[i] AS w1, t.ws[i + 1] AS w2
                    FROM toks t, UNNEST(generate_series(1, len(t.ws) - 1)) AS u(i)
                    WHERE t.doc_id % 10 <> 0 AND len(t.ws) >= 2),
            bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                   FROM bgr GROUP BY w1, w2),
            c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
            uni AS (SELECT t.ws[i] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
                    FROM toks t, UNNEST(generate_series(1, len(t.ws))) AS u(i)
                    WHERE t.doc_id % 10 <> 0 AND len(t.ws) >= 1
                    GROUP BY 1),
            nt AS (SELECT CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS n FROM uni),
            held AS (SELECT t.source, t.ws[i] AS w1, t.ws[i + 1] AS w2
                     FROM toks t, UNNEST(generate_series(1, len(t.ws) - 1)) AS u(i)
                     WHERE t.doc_id % 10 = 0 AND len(t.ws) >= 2),
            scored AS (SELECT h.source,
                         CASE WHEN bg.c12 IS NOT NULL THEN 1 ELSE 0 END AS hit,
                         CASE WHEN bg.c12 IS NOT NULL THEN bg.c12 * 1000000 // c1.c1
                              WHEN uni.c2 IS NOT NULL AND nt.n > 0
                                THEN uni.c2 * 400000 // nt.n
                              ELSE 0 END AS score_u
                       FROM held h
                       LEFT JOIN bg ON bg.w1 = h.w1 AND bg.w2 = h.w2
                       LEFT JOIN c1 ON c1.w1 = h.w1
                       LEFT JOIN uni ON uni.w2 = h.w2
                       CROSS JOIN nt)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM(hit) AS BIGINT) AS n_hits,
              CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm,
              FLOOR((CAST(SUM(score_u) AS DOUBLE) /
                (CAST(COUNT(*) AS DOUBLE) * 1000000.0)) * 1000000 + 0.5) / 1000000
                AS mean_score
            FROM scored GROUP BY source ORDER BY source"""))

  /** Word BURSTINESS — Church & Gale's dispersion diagnostic ("Poisson
    * mixtures", 1995): content words BURST (they recur heavily inside the
    * few documents that mention them) while function words spread
    * Poisson-like, so the variance-to-mean ratio of a word's per-document
    * count separates topical vocabulary from glue — the signal behind
    * df-weighting choices (why q_tfidf's idf works) and boilerplate
    * screens. For the 20 most frequent words: total count, document
    * frequency, and the dispersion index (σ²/µ over ALL N docs, zeros
    * included — zeros add nothing to Σc or Σc², so the exact integer
    * moments (Σc, Σc², df) plus the broadcast N are sufficient:
    * µ = Σc/N, σ² = Σc²/N − µ²). Dispersion 1 = Poisson; ≫1 = bursty.
    *
    * Scale posture: one (doc, word) count aggregate, one per-word moment
    * aggregate (both hash-partitioned, map-side combined), a
    * TakeOrdered(20) head, N as a 1-row broadcast.
    */
  private val burstiness = Q(
    "q_burstiness",
    (spark, dir) => {
      val perDoc = Tables.spreadIfUnderSplitAtScale(
          Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(TextOps.wordNGramsAll(col("text"), 1)).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val moments = perDoc.groupBy(col("w"))
        .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("df"))
      val n = broadcast(Tables(spark, dir, "documents")
        .agg(count(lit(1)).as("n")))
      moments.orderBy(col("s1").desc, col("w")).limit(20)
        .crossJoin(n)
        .select(col("w"), col("s1").cast("bigint").as("total_count"),
          col("df").cast("bigint").as("doc_freq"),
          pround(
            (col("s2").cast("double") / col("n").cast("double") -
              (col("s1").cast("double") / col("n").cast("double")) *
                (col("s1").cast("double") / col("n").cast("double"))) /
              (col("s1").cast("double") / col("n").cast("double")), 4)
            .as("dispersion"))
        .orderBy(col("total_count").desc, col("w"))
    },
    Some("""WITH toks AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS ws
                 FROM documents),
            pd AS (SELECT doc_id, t.ws[i] AS w, CAST(COUNT(*) AS BIGINT) AS c
                   FROM toks t, UNNEST(generate_series(1, len(t.ws))) AS u(i)
                   WHERE len(t.ws) >= 1 GROUP BY doc_id, t.ws[i]),
            m AS (SELECT w, SUM(c) AS s1, SUM(c * c) AS s2, COUNT(*) AS df
                  FROM pd GROUP BY w),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
            head AS (SELECT * FROM m ORDER BY s1 DESC, w LIMIT 20)
            SELECT w, CAST(s1 AS BIGINT) AS total_count,
              CAST(df AS BIGINT) AS doc_freq,
              FLOOR(((CAST(s2 AS DOUBLE) / CAST(n.n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n.n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n.n AS DOUBLE)))
                / (CAST(s1 AS DOUBLE) / CAST(n.n AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS dispersion
            FROM head CROSS JOIN n
            ORDER BY total_count DESC, w"""))

  /** Per-source keyword extraction: top-3 terms by an integer TF·IDF
    * rank (idf as the exact milli-ratio (N·1000) div df — a float
    * ln(N/df) would put engine-specific libm ulp into the ORDERING,
    * which no pround can absorb; the integer ratio preserves the
    * ranking semantics and crosses engines exactly). The corpus-explorer
    * counterpart of q_tfidf's per-document weights: which terms
    * CHARACTERIZE each source, tf from the source's token stream, df
    * from corpus-wide distinct-document counts.
    *
    * Scale posture: tf and df are two partial+final aggregates off one
    * exploded pass (df map-side-dedups (doc, word) via the distinct
    * shingle expression); the rank window partitions by source over the
    * vocabulary-bounded scored relation.
    */
  private val keywordExtract = Q(
    "q_keyword_extract",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spreadIfUnderSplitAtScale(
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")))
      val words = graft.Caches.persisted(
        docs.select(col("doc_id"), col("source"),
          explode(TextOps.wordsNative(col("text"))).as("word")))
      val n = docs.agg(countDistinct(col("doc_id")).as("n"))
      val tf = words.groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val df = words.select(col("doc_id"), col("word")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word").crossJoin(broadcast(n))
        .select(col("source"), col("word"), col("tf"), col("df"),
          (col("tf") * expr("(n * 1000) div df")).as("score"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("score").desc, col("word"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk").cast("int").as("rk"), col("word"),
          col("tf").cast("bigint").as("tf"), col("df").cast("bigint").as("df"),
          col("score").cast("bigint").as("score"))
        .orderBy(col("source"), col("rk"))
    },
    Some("""WITH w AS (SELECT doc_id, source, word
                       FROM (SELECT doc_id, source,
                               UNNEST(string_split(text, ' ')) AS word
                             FROM documents)
                       WHERE word <> ''),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
            tf AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM w GROUP BY source, word),
            df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
                   FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word),
            scored AS (SELECT source, tf.word, tf, df,
                         tf * ((n.n * 1000) // df) AS score
                       FROM tf JOIN df ON tf.word = df.word, n),
            ranked AS (SELECT source, word, tf, df, score,
                         ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY score DESC, word) AS rk
                       FROM scored)
            SELECT source, CAST(rk AS INT) AS rk, word, tf, df,
              CAST(score AS BIGINT) AS score
            FROM ranked WHERE rk <= 3 ORDER BY source, rk"""))

  val all: Seq[Q] = Seq(charCount, wordCount, invertedIndex, textStats,
    tokenCount, langId, qualityScore, fingerprint, tfidf, textClean, bigramLm,
    repetitionFilter, zipfStats, lmPerplexity, charEntropy, ngramCoverage,
    piiRedact, vocabCoverage, pmiCollocations, bm25, cosinePairs, probeScan,
    ccnetBucket, bpePairs, knBigram, nucleusVocab, tokenizerFertility, langMix,
    freqOfFreq, bpeMerge2, goodTuring, ngramNovelty, bpeTrain, bpeEncode,
    stupidBackoff, burstiness, bpeSampled, keywordExtract)
}
