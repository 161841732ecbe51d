package graft.streaming

import graft.codecs.Gps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.Row

/** The reference dataflow (SURVEY §3) as Structured Streaming jobs.
  *
  * Source/sink-agnostic: each stage is a DataFrame → DataFrame
  * transform so tests drive it from MemoryStream and production wires
  * it to `readStream.format("kafka")` (the connector jar is an
  * environment concern, not a code one). Improvements over the
  * reference are deliberate and documented:
  *  - exactly-once via checkpointed offsets + idempotent-append sinks,
  *    vs the reference's LastOffset at-most-once (main.go:41);
  *  - batched JDBC writes (`batchsize`), vs one synchronous INSERT per
  *    message (main.go:217-223) — the single biggest throughput fix;
  *  - per-record failures drop the record, vs log.Fatalf killing the
  *    process (main.go:224-226).
  */
object Pipeline {

  // ---- Kafka endpoints (production wiring; the connector jar is an
  // environment concern — tests drive the same stages via MemoryStream)

  /** Kafka source mirroring the reference consumer (main.go:31-51):
    * subscribe semantics, start-at-latest default, bounded micro-batches
    * via maxOffsetsPerTrigger (the analog of the reference's 10 MB
    * MaxBytes fetch cap). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Long = 1000000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .load()
      .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** Keyed Kafka sink (producer analog, main.go:23-29; partitioner is
    * broker/client-side — key parity is the semantic contract). */
  def kafkaSink(keyed: DataFrame, servers: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    keyed.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  // ---- stage A: ingress JSON → keyed Connect envelope (main.go:87-137)

  /** `jsonCol`-bearing stream of raw POST bodies (+ an `addr` column
    * standing in for the HTTP client address) → (key, value) envelope
    * records ready for a Kafka-shaped sink. Malformed JSON → null
    * struct → dropped (HTTP 400 analog, main.go:92-95). */
  def ingressToEnvelope(raw: DataFrame): DataFrame = {
    val parsed = Gps.parseIngress(col("json"))
    val flat = raw.select(col("addr") +: Gps.fixColumns(parsed): _*)
    val ok = flat.filter(col("id").isNotNull)
    ok.select(
      Gps.messageKey(col("addr")).as("key"),
      Gps.connectEnvelope(ok).as("value"))
  }

  /** Dead-letter split: the reference silently drops malformed records
    * (HTTP 400 / skip-on-error); a 100 TB training-data pipeline wants
    * them quarantined instead. Returns (ok, deadLetter) — deadLetter
    * keeps the raw payload plus a reason column for reprocessing. */
  def ingressWithDeadLetter(raw: DataFrame): (DataFrame, DataFrame) = {
    // PERMISSIVE from_json yields an all-null struct (not a null) for
    // malformed input, so JSON validity needs its own probe:
    // get_json_object(_, '$') is null iff the document doesn't parse.
    val isValidJson = get_json_object(col("json"), "$").isNotNull
    val parsed = Gps.parseIngress(col("json"))
    val tagged = raw.withColumn("_parsed", parsed).withColumn("_valid", isValidJson)
    val complete = col("_valid") && col("_parsed.location.timestamp").isNotNull
    val ok = tagged.filter(complete)
      .select(col("addr") +: Gps.fixColumns(col("_parsed")): _*)
    val dlq = tagged.filter(!complete)
      .select(col("json").as("raw"), col("addr"),
        when(!col("_valid"), "malformed_json")
          .otherwise("missing_required_fields").as("reason"))
    (ok, dlq)
  }

  // ---- stage C: Debezium CDC → geo-enriched rows (main.go:196-231)

  /** Debezium change-event JSON stream → location_instances rows.
    * Missing/corrupt after-image → dropped (main.go:205-208).
    * Append-only by design: every change event appends an instance row,
    * updates are not collapsed (main.go:212-223 and FIXTURES B.4). */
  def cdcToLocationInstances(changeEvents: DataFrame): DataFrame = {
    val after = Gps.afterImage(col("value"))
    changeEvents
      .select(after.as("after"))
      .filter(col("after").isNotNull && col("after.id").isNotNull)
      .select(Gps.locationInstance(col("after")): _*)
  }

  // ---- windowed aggregation with watermark (SURVEY §2.8)

  /** Per-device tumbling-window stats with late-data drop. `fixes`
    * needs deviceId, speed and an event-time column `ts`. */
  def windowedDeviceStats(fixes: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    fixes
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("deviceId"))
      .agg(
        count(lit(1)).as("n_fixes"),
        avg(col("speed")).as("avg_speed"),
        max(col("speed")).as("max_speed"))
      .select(col("window.start").as("wstart"), col("deviceId"),
        col("n_fixes"), col("avg_speed"), col("max_speed"))

  /** Streaming dedup by natural key within the watermark horizon —
    * the stream form of the LLM exact-dedup operator. */
  def dedupFixes(fixes: DataFrame, watermark: String = "10 minutes"): DataFrame =
    fixes.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** Incrementally-maintained latest-state snapshot per key — the
    * streaming form of q_cdc_snapshot, same order-independent
    * max(struct) aggregate keyed by the unique (ms, event_id) prefix,
    * so arrival order across micro-batches cannot change the result
    * (StreamingPipelineSpec proves stream == batch). `events` needs
    * user_id, ms, event_id, value, event_type. */
  def snapshotState(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        struct(col("ms"), col("event_id"), col("value"), col("event_type")).as("st"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("st")).as("w"))
      .select(col("user_id"), col("n_events"),
        col("w.event_id").as("last_event_id"), col("w.ms").as("last_ms"),
        col("w.value").as("last_value"), col("w.event_type").as("last_type"))

  /** Incrementally-maintained latest-state snapshot WITH Debezium
    * tombstone semantics (r9) — the streaming twin of
    * q_cdc_snapshot_deletes. `events` additionally carries an `op`
    * column ('d' = delete); a key whose LAST event (by the unique
    * (ms, event_id) order) is a tombstone is withheld from the emitted
    * state. The op rides inside the same order-independent max(struct)
    * fold AFTER the unique prefix, so interleaved deletes across
    * micro-batches in any arrival order converge to the batch answer
    * (StreamingPipelineSpec proves it), and a key deleted-then-
    * re-upserted correctly reappears. State stays one folded row per
    * key — the tombstone filter is a stateless projection on top. */
  def snapshotStateWithDeletes(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        struct(col("ms"), col("event_id"), col("op"), col("value"), col("event_type")).as("st"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("st")).as("w"))
      .filter(col("w.op") =!= lit("d"))
      .select(col("user_id"), col("n_events"),
        col("w.event_id").as("last_event_id"), col("w.ms").as("last_ms"),
        col("w.value").as("last_value"), col("w.event_type").as("last_type"))

  /** Streaming PSI drift monitor (r9): per-window Population Stability
    * Index of the live value distribution against a STATIC baseline —
    * the streaming twin of q_profile_psi, i.e. the "is the feature
    * distribution moving under me" gate run continuously instead of at
    * refit time. Design for scale: the baseline's bin probabilities
    * (and its min/max anchors) are collected ONCE at wiring time into
    * plain literals — ten numbers, not a join side — so the stream
    * side is ONE windowed aggregate (conditional count per bin, all
    * partial-aggregable) followed by a STATELESS per-row PSI
    * projection; a single state operator whose state is one row per
    * window, evicted by the watermark. Laplace (+1 / +10) smoothing on
    * both sides keeps empty bins finite, matching the batch operator.
    * `events` needs ts (event-time) and a double `value`; `baseline`
    * needs `value`. */
  def driftMonitor(events: DataFrame, baseline: DataFrame,
      window_ : String = "1 hour", watermark: String = "10 minutes"): DataFrame = {
    val anchors = baseline.filter(col("value").isNotNull)
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi")).collect()(0)
    val (lo, hi) = (anchors.getDouble(0), anchors.getDouble(1))
    def binOf(v: Column): Column =
      least(lit(9), greatest(lit(0),
        floor((v - lit(lo)) / (lit(hi) - lit(lo)) * 10.0).cast("int")))
    val baseCounts = baseline.filter(col("value").isNotNull)
      .groupBy(binOf(col("value")).as("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val baseTotal = baseCounts.values.sum
    def q(i: Int): Double =
      (baseCounts.getOrElse(i, 0L) + 1).toDouble / (baseTotal + 10).toDouble
    val binAggs = (0 until 10).map(i =>
      count(when(binOf(col("value")) === i, 1)).as(s"n$i"))
    val binned = events.filter(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(binAggs.head, binAggs.tail: _*)
    val total = (0 until 10).map(i => col(s"n$i")).reduce(_ + _)
    val psi = (0 until 10).map { i =>
      val p = (col(s"n$i") + 1).cast("double") / (total + 10).cast("double")
      (p - lit(q(i))) * log(p / lit(q(i)))
    }.reduce(_ + _)
    binned.select(col("window.start").as("wstart"),
      total.as("n_events"), round(psi, 6).as("psi"))
  }

  /** Streaming frequent-items monitor: per-window Misra–Gries heavy-
    * hitter candidates over a token stream — the continuous form of
    * q_llm_heavy_hitters (r9). The MG summary is a mergeable typed
    * Aggregator (graft.functions.HeavyHitters), so the windowed
    * aggregation's state is ONE ≤k-entry buffer per window that
    * Spark's state store updates incrementally across micro-batches —
    * bounded state regardless of the token domain, the property a
    * 100 TB trending-terms monitor needs. Candidate ESTIMATES are
    * merge-order-dependent (batch boundaries shift them), but the MG
    * superset guarantee is order-free: every token with true window
    * frequency > n/(k+1) is present in the emitted candidates — the
    * spec asserts exactly that invariant (plus the ≤k bound and the
    * single state operator), not estimate equality. Output: one row
    * per (window, candidate) with the estimate and the window total.
    * `toks` needs event-time `ts` and a string `term`. */
  def frequentItemsMonitor(toks: DataFrame, k: Int = 16,
      window_ : String = "1 hour", watermark: String = "10 minutes"): DataFrame =
    toks
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(graft.functions.HeavyHitters.mgSketch(k)(col("term")).as("mg"),
        count(lit(1)).as("n_tokens"))
      // explode_outer: a window whose final MG map emptied out (every
      // count-1 entry decremented away) still emits its (window,
      // n_tokens) row with null term/est instead of vanishing (r9
      // advice) — downstream consumers never lose a window's total.
      .select(col("window.start").as("wstart"), col("n_tokens"),
        explode_outer(col("mg")).as(Seq("term", "est")))

  /** Streaming corpus fingerprint: per-source running MinHash sketch
    * over a document stream — the incremental form of
    * q_llm_source_minhash (r7). min() is order-insensitive and
    * partial-aggregable, so the sketch maintains itself across
    * micro-batches with state bounded at ONE row of 16 longs per
    * source regardless of document volume — the continuous-crawl
    * fingerprint a 100 TB ingest keeps live instead of recomputing.
    * StreamingPipelineSpec proves stream-over-micro-batches == the
    * batch aggregation over the union. `docs` needs source, text. */
  def streamingSourceSketch(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import graft.functions.TextKernels
    docs
      .select(col("source"), TextKernels.triShingles(s, col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("source"), TextKernels.minhashSig(s, col("shingles")).as("sig"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (0 until 16).map(i => min(element_at(col("sig"), i + 1)).as(s"s$i")): _*)
  }

  /** Streaming incremental near-dedup (r7): the stream-static form of
    * q_llm_incr_dedup — an incoming document stream probed against the
    * STATIC base corpus's MinHash band index (stream-static equi-join,
    * natively supported in append mode). Completely STATELESS: each
    * incoming doc is fully processed within its own micro-batch, and
    * the usual candidate dedup (a pair can collide in several bands)
    * is done row-locally instead of with a stateful distinct — both
    * sides carry their 16 signature slots, so "this is the FIRST
    * matching band" is a plain column predicate (band strings embed
    * the band index, so only same-index bands ever join). Emits one
    * verified match row (inc_id, doc_id, jaccard ≥ threshold) per
    * (incoming, base) pair. Per trigger the work is the incoming
    * batch's kernel pass + one equi-join probe; at scale callers
    * persist the base band index once — the base side never rebuilds
    * per trigger from anything but that relation. Works identically
    * on a batch `incoming` (the spec proves stream == batch).
    * `incoming` needs (inc_id, text); `base` needs (doc_id, text). */
  def streamingIncrDedup(incoming: DataFrame, base: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val s = base.sparkSession
    import graft.functions.TextKernels
    def sig(df: DataFrame, id: String, p: String) = df
      .select(col(id), TextKernels.triShingles(s, col("text")).as(p + "sh"))
      .filter(size(col(p + "sh")) > 0)
      .select(col(id), col(p + "sh"),
        TextKernels.minhashSig(s, col(p + "sh")).as(p + "sg"))
    def bandStr(sg: String, b: Int) = concat_ws("_", lit(b.toString) +:
      (0 until 4).map(k => element_at(col(sg), 4 * b + k + 1).cast("string")): _*)
    val bBands = sig(base, "doc_id", "b_")
      .select(col("doc_id"), col("b_sh"), col("b_sg"),
        explode(array((0 until 4).map(b => bandStr("b_sg", b)): _*)).as("band"))
    val iBands = sig(incoming, "inc_id", "i_")
      .select(col("inc_id"), col("i_sh"), col("i_sg"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("bidx"), bandStr("i_sg", b).as("band"))): _*)).as("ib"))
      .select(col("inc_id"), col("i_sh"), col("i_sg"),
        col("ib.bidx").as("bidx"), col("ib.band").as("band"))
    def slotsEq(b: Int) = (0 until 4).map(k =>
      element_at(col("i_sg"), 4 * b + k + 1) === element_at(col("b_sg"), 4 * b + k + 1))
      .reduce(_ && _)
    val firstBand = when(slotsEq(0), 0).when(slotsEq(1), 1).when(slotsEq(2), 2).otherwise(3)
    val nInt = size(array_intersect(col("i_sh"), col("b_sh"))).cast("double")
    iBands.join(bBands, "band")
      .filter(firstBand === col("bidx"))
      .withColumn("jaccard", nInt / (size(col("i_sh")) + size(col("b_sh")) - nInt))
      .filter(col("jaccard") >= threshold)
      .select(col("inc_id"), col("doc_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Stream-stream interval join: each fix is enriched with the device
    * status events observed in the lag window [fix.ts − maxLag,
    * fix.ts]. Both sides carry watermarks AND the join condition bounds
    * event time on both sides, so Spark can expire join state — the
    * two requirements that make a stream-stream join runnable with
    * bounded memory at 100 TB (an unbounded-state join is refused by
    * the engine in append mode). Inner join: fixes with no status in
    * the window are dropped; use leftOuter for the keep-all variant
    * (emitted only after watermark passes). */
  def fixesWithStatus(fixes: DataFrame, status: DataFrame,
      watermark: String = "10 minutes", maxLag: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    val f = fixes.withWatermark("ts", watermark)
    val st = status
      .select(col("deviceId").as("s_deviceId"), col("ts").as("s_ts"), col("status"))
      .withWatermark("s_ts", watermark)
    f.join(st,
      col("deviceId") === col("s_deviceId") &&
        col("s_ts") >= col("ts") - expr(s"INTERVAL $maxLag") &&
        col("s_ts") <= col("ts"),
      joinType)
      .drop("s_deviceId")
  }

  /** Session windows per device (30 min gap) — streaming twin of
    * q_stream_session_twin's lag+cumsum batch form. */
  def sessionStats(fixes: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    fixes
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("deviceId"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("deviceId"), col("n_events"))

  // ---- sinks

  /** Pluggable per-batch row sink (JDBC in production, in-memory in
    * tests) — the trait boundary keeps Postgres out of the test loop
    * (SURVEY §7.4 #6). */
  trait RowSink extends Serializable {
    def write(batch: DataFrame, batchId: Long): Unit
  }

  /** Batched JDBC append, auto-creating the table from the DataFrame
    * schema — Connect `auto.create`/`insert.mode=insert` semantics
    * (connector.json:12-13) with real batching. */
  final class JdbcAppendSink(url: String, table: String,
      props: java.util.Properties, batchSize: Int = 10000,
      createTableColumnTypes: Option[String] = None) extends RowSink {
    override def write(batch: DataFrame, batchId: Long): Unit = {
      val w = batch.write.mode("append")
        .option("batchsize", batchSize.toString)
      createTableColumnTypes.fold(w)(t => w.option("createTableColumnTypes", t))
        .jdbc(url, table, props)
    }
  }

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Wire a stage to a sink with exactly-once checkpointing.
    *
    * Checkpoint logs are written through [[LocalCheckpointFileManager]]:
    * on a local checkpoint it skips the process forks Hadoop's local file
    * system makes per write without its native library (three log writes
    * per micro-batch). The setting is SESSION-WIDE: every streaming
    * query later started on `stage`'s session, state stores included,
    * uses that class. A caller who set
    * `spark.sql.streaming.checkpointFileManagerClass` keeps their value. */
  def start(stage: DataFrame, sink: RowSink, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val conf = stage.sparkSession.conf
    if (!conf.getAll.contains(CheckpointManagerKey))
      conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    stage.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, id: Long) => sink.write(df, id))
      .start()
  }
}
