package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming realizations of the stream-shaped operators.
  *
  * The reference engine is strictly batch (SURVEY.md §2.2), so these are
  * the *forward-looking* streaming twins of the batch queries in
  * `EventQueries`: the logical operators (tumbling window, dedup-by-key,
  * gap sessions) are identical; only the source/sink mode changes. They are
  * exercised by tests with a memory sink (DuckDB can't oracle a stream).
  *
  * Scale posture: watermark + windowed aggregation state is bounded by
  * (watermark horizon × key cardinality); dedup state by distinct keys in
  * the horizon — both shard across executors by the grouping key exactly
  * like the batch shuffles.
  */
object Streams {

  /** events.parquet as a bounded stream, with the file schema and the
    * timestamp normalization of `Tables.events`: nanos-vintage files
    * surface `ts` as a raw long and need the µs truncation; µs-vintage
    * files already read as TIMESTAMP and pass through.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    Tables.withMicrosTs(spark.readStream
      .schema(Tables.eventsFile(spark, sfDir).schema)
      .parquet(s"$sfDir/events.parq*")) // glob: the file source wants a dir/glob

  /** Tumbling 1-hour windowed counts with a 1-hour watermark — the
    * streaming twin of q_time_window.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("cnt"))

  /** Sliding 1-hour windows advancing every 15 minutes — the streaming
    * twin of q_window_range_time's trailing-hour view (each event lands in
    * 4 overlapping windows; state is watermark-bounded like the tumbling
    * case, ×4 for the overlap).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming dedup-by-key within the watermark horizon — the streaming
    * twin of q_dedup_exact's keep-first semantics.
    */
  def dedupByKey(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("event_id"))

  /** Streaming CONTENT dedup — the streaming twin of q_dedup_exact and
    * the stream-shaped member of the dedup family (pairs with
    * q_dedup_incremental's signature store: the same nightly delta,
    * arriving as a stream instead of a batch). Input is a document
    * stream carrying an event-time `ts` (arrival order); the operator
    * hashes content and keeps the FIRST arrival per md5 within the
    * watermark horizon via `dropDuplicatesWithinWatermark` — the
    * arrival-order keep-first semantics q_dedup_incremental's exact
    * channel applies to its delta.
    *
    * State-store bound (the discipline this twin documents): one state
    * row per DISTINCT content hash whose event time is within
    * (watermark horizon + delay); keys older than the watermark are
    * evicted, so state scales with distinct-keys-per-horizon, not with
    * stream history. The trade-off is explicit: a duplicate arriving
    * AFTER its original's key expired is re-emitted as new — the
    * bounded-memory/completeness dial every streaming dedup deployment
    * sets. Exact streaming == batch agreement therefore holds when all
    * copies of a document arrive within one horizon and arrival order
    * follows doc_id (the agreement spec stages exactly that; the batch
    * twin's keep-lowest-id rule coincides with keep-first-arrival).
    */
  def dedupDocsStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("h")

  /** Streaming HyperLogLog — the q_hll_merge register sketch maintained
    * incrementally over an unbounded key stream: the 256 registers are a
    * streaming MAX aggregate, so state is EXACTLY 256 rows FOREVER (the
    * O(m) bound that makes HLL the streaming distinct counter — compare
    * dropDuplicates' one-row-per-key state, which grows with cardinality
    * and needs a watermark to evict; a MAX register never needs
    * eviction). Complete output mode: every trigger emits the current
    * 256-row sketch, and at any stream prefix the registers equal the
    * batch funnel over the same rows — the agreement the spec pins.
    * Input: any streaming relation with a `k` column.
    */
  def hllRegistersStream(keys: DataFrame): DataFrame =
    keys
      .select(graft.functions.Portable.hash60(col("k").cast("string")).as("h"))
      .select((col("h") % 256).cast("int").as("j"), expr("h div 256").as("w"))
      .select(col("j"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).cast("int").as("r"))
      .groupBy(col("j")).agg(max(col("r")).as("m"))

  /** STREAMING DAY-N STORE APPEND — the store VERB under streaming
    * delivery (VERDICT r14 stretch: the streaming suite twins
    * dedup/HLL/CMS/SCD2/sessions but no store verb). The batch suite's
    * q_hll_store appends a delta as one whole-vintage overwrite; a
    * streaming ingest cannot — each micro-batch holds only a slice of
    * the delta. The streaming form is foreachBatch: fold the
    * micro-batch's keys to ≤256 register rows
    * ([[hllRegistersStream]]'s funnel, which is pure DataFrame code and
    * runs unchanged on the batch handed to foreachBatch) and
    * BLIND-append them under the delta vintage. At-least-once delivery
    * is correct WITHOUT sink-side dedup, txn log, or batch-id
    * bookkeeping: the store serves through a per-register MAX fold and
    * appended rows are register maxima, so a REDELIVERED batch's rows
    * re-append and change nothing in the fold — mergeable-sketch
    * stores get exactly-once *semantics* from algebra where raw-row
    * sinks need checkpoint machinery (why production pipelines stream
    * sketches freely but guard raw appends). Stream-side state: none —
    * the fold lives in the store. Store growth: ≤256 rows per
    * micro-batch, compacted by any later whole-vintage rewrite
    * (q_hll_store's [[graft.operators.SketchQueries]] append verb).
    *
    * Target-table contract: `table` must carry columns named `j` (int
    * register index), `m` (int register value), `vintage` (string
    * partition) — in ANY order. `insertInto` is position-based, so the
    * append first re-selects the batch's columns in the target table's
    * own declared order BY NAME (ADVICE r15: a blind positional insert
    * into a vintage-first table would, with ANSI off, null-cast the
    * string vintage into the int register column rather than fail); a
    * table missing one of the three names now fails fast at resolution.
    */
  def appendHllRegistersBatch(batchKeys: DataFrame, table: String,
      vintage: String = "delta1"): Unit = {
    val targetOrder = batchKeys.sparkSession.table(table).columns
    hllRegistersStream(batchKeys)
      .select(col("j"), col("m"), lit(vintage).as("vintage"))
      .select(targetOrder.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(table)
  }

  /** Streaming Count-Min — the q_cms_merge / q_cms_store counter sketch
    * maintained incrementally over an unbounded word stream: the depth-4
    * × width-512 counters are a streaming COUNT aggregate keyed on
    * (d, p), so state is AT MOST 2048 rows FOREVER — the O(d·w) bound
    * that makes CMS the streaming frequency summary (exact per-word
    * counting grows state with vocabulary and would need watermark
    * eviction; a counter grid never does). Complete output mode: every
    * trigger emits the current counters, and at any stream prefix the
    * counters equal the batch funnel over the same rows — the agreement
    * the spec pins. Input: any streaming relation with a `word` column.
    */
  def cmsCountersStream(words: DataFrame): DataFrame =
    words
      .select(graft.functions.Portable.hash60(col("word")).as("hv"))
      .select(posexplode(array((0 until 4).map(i =>
        shiftright(col("hv"), 9 * i).bitwiseAND(lit(511L))): _*)))
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "p")
      .groupBy(col("d"), col("p")).agg(count(lit(1)).as("c"))

  /** STREAMING STORE APPENDS FOR THE REMAINING MERGEABLE SKETCHES
    * (VERDICT r15 task 3): the HLL twin above made "mergeable store"
    * and "streaming-safe store" the same claim for the MAX fold; these
    * three extend it to the Bloom (UNION), CMS (SUM), and quantile
    * (SUM) stores — and draw the algebra boundary the HLL scaladoc
    * gestured at, now load-bearing:
    *
    *  - IDEMPOTENT folds (HLL's per-register MAX, Bloom's distinct-bit
    *    UNION): a redelivered batch's rows re-append and the served
    *    fold cannot move — at-least-once is free, so the append is a
    *    BLIND `insertInto`, no bookkeeping.
    *  - NON-idempotent folds (CMS counter SUM, quantile histogram SUM):
    *    a blind re-append silently DOUBLES the redelivered batch's
    *    counts — the exact corruption mode the batch verbs'
    *    [[graft.operators.VintageWrite]] exists for. The streaming
    *    form therefore keys each micro-batch's rows by foreachBatch's
    *    `batchId` as a SECOND partition column and lands them as a
    *    dynamic partition overwrite of (vintage, batch_id): a
    *    redelivery deterministically REWRITES its own partition with
    *    identical content and touches nothing else. Same algebra as
    *    the batch day-N verbs (append-twice ≡ append-once), lifted to
    *    per-micro-batch granularity — the standard idempotent-
    *    foreachBatch pattern, here derived from the fold algebra
    *    rather than bolted on.
    *
    * All three appends resolve the target table's column order BY NAME
    * before the positional insert (the r15 ADVICE contract on the HLL
    * twin, applied from birth here). Store growth: ≤#distinct-rows per
    * micro-batch, compacted by any later whole-vintage rewrite.
    */

  /** Distinct Bloom bit positions of a micro-batch of documents under
    * the q_bloom_store geometry (4096 bits × 4 probes carved from one
    * content-hash hash60). Input: any relation with a `text` column.
    */
  def bloomBitsBatch(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("ch"))
      .select(graft.functions.Portable.hash60(col("ch")).as("hv"))
      .select(explode(array((0 until 4).map(i =>
        shiftright(col("hv"), 12 * i).bitwiseAND(lit(4095L))): _*)).as("bit"))
      .distinct()

  /** Blind at-least-once append of a micro-batch's Bloom bits — safe
    * WITHOUT delivery bookkeeping because the served fold is a distinct
    * union (redelivered bits are duplicates the fold discards). Target
    * contract: columns named `bit` (long), `vintage` (string partition).
    */
  def appendBloomBitsBatch(batchDocs: DataFrame, table: String,
      vintage: String = "delta1"): Unit = {
    val targetOrder = batchDocs.sparkSession.table(table).columns
    bloomBitsBatch(batchDocs)
      .select(col("bit"), lit(vintage).as("vintage"))
      .select(targetOrder.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(table)
  }

  /** Idempotent append of a micro-batch's CMS counters: the SUM fold is
    * not redelivery-safe, so the rows land keyed by `batchId` as a
    * dynamic partition overwrite of (vintage, batch_id) — redelivery
    * rewrites its own partition byte-for-byte and the served fold holds.
    * Target contract: columns named `d`, `p`, `c` plus partition columns
    * `vintage` (string) and `batch_id` (long). Input: a `word` column
    * ([[cmsCountersStream]]'s funnel runs unchanged on the batch).
    */
  def appendCmsCountersBatch(batchWords: DataFrame, table: String,
      batchId: Long, vintage: String = "delta1"): Unit = {
    val targetOrder = batchWords.sparkSession.table(table).columns
    graft.operators.VintageWrite(
      cmsCountersStream(batchWords)
        .select(col("d"), col("p"), col("c"),
          lit(vintage).as("vintage"), lit(batchId).as("batch_id"))
        .select(targetOrder.map(col).toIndexedSeq: _*),
      table)
  }

  /** 64-bucket histogram of a micro-batch of integer cents over the
    * store's INGEST grid — (minc, span) are ingest-time state passed in
    * by the caller, never re-derived per batch (re-deriving would
    * re-bucket the store: the q_quantile_store / IVF-centroid posture).
    * Input: any relation with a `cents` column.
    */
  def quantileHistBatch(cents: DataFrame, minc: Long, span: Long): DataFrame =
    cents
      .select(greatest(lit(0L), least(lit(63L),
        expr(s"((cents - ${minc}L) * 64) div ${span}L"))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))

  /** Idempotent append of a micro-batch's quantile histogram — same
    * SUM-fold reasoning as [[appendCmsCountersBatch]]: batchId-keyed
    * dynamic partition overwrite. Target contract: columns named `b`,
    * `c` plus partition columns `vintage` (string), `batch_id` (long).
    */
  def appendQuantileHistBatch(batchCents: DataFrame, table: String,
      batchId: Long, minc: Long, span: Long,
      vintage: String = "delta1"): Unit = {
    val targetOrder = batchCents.sparkSession.table(table).columns
    graft.operators.VintageWrite(
      quantileHistBatch(batchCents, minc, span)
        .select(col("b"), col("c"),
          lit(vintage).as("vintage"), lit(batchId).as("batch_id"))
        .select(targetOrder.map(col).toIndexedSeq: _*),
      table)
  }

  /** Stream-stream interval join: purchases joined to same-user error
    * events from the preceding hour. Both sides carry watermarks and the
    * join condition bounds event time, so state eviction is automatic —
    * per-side state is (watermark + interval) × keys, sharded by user_id.
    */
  def purchasesWithRecentErrors(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts"))
  }

  /** Streaming twin of q_event_window_join — the full shape, not just the
    * join: purchases LEFT-OUTER joined to same-user clicks in the hour
    * AFTER the purchase, then aggregated to a per-purchase click count.
    * This chains two stateful operators (time-interval outer join →
    * windowed aggregation), the combination Spark's watermark propagation
    * exists for: the join's unmatched left rows can only emit once the
    * click watermark passes p_ts + 1 h, so the downstream aggregation's
    * effective watermark is delayed by the interval automatically and
    * append mode still seals each (window, event_id) group exactly once.
    *
    * Scale posture: join state is (watermark + 1 h) × per-user events on
    * each side, sharded by user_id; aggregation state is one counter per
    * in-horizon purchase. The window(p_ts, 1 h) group key exists solely
    * to give the aggregate an event-time column to seal on — event_id is
    * unique, so it does not change the counts.
    */
  def purchaseClickCounts(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") > col("p_ts") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .groupBy(window(col("p_ts"), "1 hour"), col("event_id"))
      .agg(count(col("c_ts")).as("clicks_1h"))
      .select(col("event_id"), col("clicks_1h"))
  }

  /** Stream-static enrichment join: the event stream against the customer
    * dimension (the standard fact-stream × dim-table shape). The static
    * side is broadcast per micro-batch — stateless, no watermark needed,
    * and the dimension is re-resolved each batch, so slowly-changing dims
    * pick up updates between batches. At 100 TB-of-stream the state cost
    * stays zero; only the dim must fit broadcast (or the join falls back
    * to a per-batch shuffle join automatically).
    */
  def enrichedBySegment(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("cnt"))

  /** foreachBatch parquet snapshot sink for an aggregation stream in
    * complete mode: every micro-batch atomically overwrites the output
    * with the aggregate-so-far, so the parquet directory is always a
    * consistent, batch-equivalent snapshot (and a replayed batch after a
    * restart just rewrites the same snapshot — idempotent, the
    * exactly-once story for an overwrite sink). This is the escape hatch
    * for sinks the built-in writers can't express (upserts, multi-table
    * fan-out, JDBC); the parquet overwrite here is its simplest honest
    * instance, checked against the batch twin in StreamingSpec.
    */
  def snapshotToParquet(agg: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(path)
      }
      .start()
}
