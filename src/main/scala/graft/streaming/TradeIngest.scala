package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming trade ingest: JSON envelope decode + normalization and the
  * size/time-batched append sink.
  *
  * Mirrors the reference's write path (reference: src/stream_binance.py):
  * the WS envelope `{"stream": ..., "data": {s,t,p,q,T,m}}` is decoded
  * and normalized (`:99-110` — string→double casts, epoch-millis→UTC
  * timestamp, bool→0/1, defaults for missing keys), buffered, and flushed
  * every `FLUSH_EVERY_SEC` = 5 s (`:20-22,67-74`). Structured Streaming's
  * `Trigger.ProcessingTime("5 seconds")` IS that contract — a micro-batch
  * per flush interval. Delivery is AT-LEAST-ONCE, exactly like the
  * reference: `foreachBatch` can re-run a batch whose write committed
  * but whose checkpoint offset didn't, re-appending those rows — the
  * same replay the reference's reconnects produce, absorbed the same way
  * (ReplacingMergeTree semantics = the keyed last-write-wins dedup view,
  * `Ops.dedupLatest`, verified by `trades_dedup_replay`).
  *
  * The live WebSocket endpoint itself is an external-system concern; any
  * streaming source with `value: STRING` rows (socket, file, Kafka-style,
  * or `MemoryStream[String]` in tests) plugs into [[normalize]].
  */
object TradeIngest {

  /** Wire schema of one Binance-style combined-stream message
    * (reference: src/stream_binance.py:34-42,97-110). Explicit StructType
    * — never schema inference (SURVEY.md §1.2). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("stream", StringType),
    // the data struct is owned by the fast-path parser so the two
    // decode paths can never disagree on shape: s/t/p/q/T/m
    StructField("data", graft.functions.ParseTradeEnvelope.dataSchema)))

  /** The normalized trade row produced by ingest — the engine's
    * `crypto.trades` schema (reference: sql/V1__create_trades_table.sql:3-16)
    * minus `ingested_at`, which the sink stamps at write time. */
  val tradeSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("trade_id", LongType),
    StructField("price", DoubleType),
    StructField("qty", DoubleType),
    StructField("ts", TimestampType),
    StructField("is_buyer_maker", IntegerType)))

  /** S2: decode + normalize a stream (or batch) of raw JSON envelope
    * strings in `valueCol`. Defaults mirror the reference's
    * `ev.get("s","")` / `ev.get("p","0")` fallbacks
    * (reference: src/stream_binance.py:103-110). Malformed JSON yields a
    * null struct → null fields → the same defaults; rows with no event
    * time are dropped (the reference would insert epoch-0 rows; a null
    * event time is useless downstream and poisons watermarks). */
  def normalize(raw: DataFrame, valueCol: String = "value"): DataFrame =
    normalizeImpl(raw, valueCol, fastPath = true)

  /** The pre-r14 Jackson-only spelling, kept as the equivalence anchor:
    * ParseEnvelopeSpec asserts `normalize` ≡ this on every envelope
    * grammar edge, which is what licenses the fast path at all. */
  private[graft] def normalizeJacksonOnly(raw: DataFrame,
      valueCol: String = "value"): DataFrame =
    normalizeImpl(raw, valueCol, fastPath = false)

  private def normalizeImpl(raw: DataFrame, valueCol: String,
      fastPath: Boolean): DataFrame = {
    // the decode column: with the fast path on, the codegen'd
    // single-scan envelope parser handles the fixed wire shape and
    // returns null for anything unusual; Coalesce evaluates the
    // Jackson branch only for those rows (r14: the Jackson tokenizer
    // was the decode line's wall — ~500 k rows/s/core, 23.5 s at the
    // 100× corpus)
    val decoded =
      if (fastPath) {
        graft.functions.GraftFunctions.register(raw.sparkSession)
        coalesce(
          expr(s"graft_parse_envelope($valueCol)"),
          from_json(col(valueCol), envelopeSchema).getField("data"))
      } else from_json(col(valueCol), envelopeSchema).getField("data")
    raw
      .select(decoded.as("d"))
      // `t` (trade id) and `T` (event time) collide under Spark's default
      // case-insensitive field resolution — expand the struct positionally
      // and rename, never reference the fields by name.
      .select(col("d.*"))
      .toDF("w_sym", "w_tid", "w_price", "w_qty", "w_tms", "w_maker")
      .select(
        coalesce(col("w_sym"), lit("")).as("symbol"),
        coalesce(col("w_tid"), lit(0L)).as("trade_id"),
        // try_cast, NOT cast: under ANSI (the Spark 4 default) a plain
        // cast THROWS on a malformed numeric string — one garbage price
        // on the wire would kill the whole ingest stream, the exact
        // failure mode the reference's float(...) has. A bad field
        // degrades to the same default a missing field gets; the row
        // (and its good event time) survives.
        coalesce(expr("try_cast(w_price AS DOUBLE)"), lit(0.0)).as("price"),
        coalesce(expr("try_cast(w_qty AS DOUBLE)"), lit(0.0)).as("qty"),
        timestamp_millis(col("w_tms")).as("ts"),
        when(coalesce(col("w_maker"), lit(false)), 1).otherwise(0)
          .as("is_buyer_maker"))
      .where(col("ts").isNotNull)
  }

  /** S1: a live line-delimited source — the socket analogue of the
    * reference's WebSocket subscription (reference:
    * src/stream_binance.py:34-42,94-100; TLS/keepalive/reconnect are the
    * transport's concern — Structured Streaming restarts from the
    * checkpoint on failure, ST7). Any process bridging the exchange WS to
    * a socket (or a Kafka-style topic swapped in here) feeds the same
    * [[normalize]] → [[ingestSink]] chain. */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame =
    normalize(
      spark.readStream
        .format("socket")
        .option("host", host)
        .option("port", port)
        .load())

  /** S3: the batched bulk-append sink. One micro-batch per 5-s trigger ≈
    * one buffer flush (reference: src/stream_binance.py:51-74); each
    * batch appends to the trades table with a processing-time
    * `ingested_at` stamp (ST2; reference column default
    * sql/V1__create_trades_table.sql:11). `coalesce(1)` per batch avoids
    * the small-file explosion a 5-s trigger would otherwise cause
    * (SURVEY.md §7.5-7); graceful stop after the last batch = the
    * reference's shutdown flush.
    *
    * Writes the SAME month-partitioned layout as
    * [[graft.store.Store.writeTrades]] — ingested rows must be visible
    * to the store's pruned readers (`readTradesSince`) and expirable by
    * its partition-drop retention; an unpartitioned append would make
    * them invisible to both. A typical micro-batch touches one month, so
    * the partitioned write costs nothing extra. */
  def ingestSink(normalized: DataFrame, tradesPath: String,
                 checkpointPath: String,
                 trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    normalized.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // exactly the at-rest schema Bootstrap.tradesAtRest declares and
        // Store.writeTrades backfills produce — a sink-private extra
        // column (e.g. a batch id) would give the one table two file
        // schemas, and plain spark.read.parquet resolves that
        // nondeterministically from whichever footer it samples
        batch
          .withColumn("ingested_at", current_timestamp())
          .withColumn("month", graft.ops.Ops.monthKey(col("ts")))
          .coalesce(1)
          // month leads the sort or the partitioned writer re-sorts and
          // destroys the (ts, symbol, trade_id) run order (see Store)
          .sortWithinPartitions("month", "ts", "symbol", "trade_id")
          .write.mode("append").partitionBy("month").parquet(tradesPath)
        ()
      }
      .start()
}
