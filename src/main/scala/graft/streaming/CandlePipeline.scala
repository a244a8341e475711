package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.ops.Ops

/** The incremental 1-minute OHLCV candle pipeline — the reference's one
  * real piece of engine machinery (SURVEY.md §4): ClickHouse's
  * `trades_to_1m` materialized view aggregates each insert block into
  * partial candles appended to `trades_1m`
  * (reference: sql/V2__create_trades_1m_view.sql:16-29), and correct
  * readback re-aggregates the partials (ST4).
  *
  * Two fidelity variants, both provided:
  *
  *  - [[partialSink]] + [[readCandles]] — exact reference parity
  *    (ST4 option b): every micro-batch commits its per-(minute,symbol)
  *    partial candles, carrying `open_ts`/`close_ts`, as the
  *    `block=<batchId>` directory of a [[graft.store.BlockStore]];
  *    readers merge partials. Late data simply lands as another partial
  *    for the old minute, exactly like the CH MV; a replayed batch
  *    replaces its block, where the CH MV leaves the copy to
  *    ReplacingMergeTree.
  *  - [[watermarkedCandles]] + [[candleSink]] — the Spark-native
  *    showcase (ST4 option a): event-time window aggregation with a
  *    watermark; Spark maintains the candle state incrementally and
  *    emits finalized windows, strictly cleaner than the reference
  *    (bounded state, no read-side merge).
  *
  * The partial-merge rules match `graft.queries.TradeQueries.candleMerge`
  * (open = open of the partial with the smallest `(open_ts, block)`,
  * close from the largest `(close_ts, block)`, high/low = max/min,
  * volume/trades = sums) so streaming output == batch recomputation is a
  * testable invariant.
  */
object CandlePipeline {

  /** Batch candle aggregation over any trades frame — A12, the flagship
    * aggregate (reference: sql/V2__create_trades_1m_view.sql:19-29). */
  def candles(trades: DataFrame): DataFrame =
    Ops.aggSeq(
      trades.groupBy(
        Ops.minuteOf(col("ts")).as("minute"), col("symbol")),
      Ops.ohlcvAggs(col("price"), col("qty"), col("ts")))

  /** Per-block partial candles for one micro-batch (the MV body).
    * `block` is the micro-batch id — the analogue of the reference's
    * per-insert-block granularity. `volume` is the EXACT decimal partial
    * ([[graft.ops.Ops.ohlcvPartialAggs]]): storing a rounded double and
    * re-quantizing it at merge time would drift from the direct batch
    * aggregation in the last ulp once a partial exceeds ~4e5. */
  def partialCandles(batch: DataFrame, blockId: Long): DataFrame =
    Ops.aggSeq(
      batch.groupBy(Ops.minuteOf(col("ts")).as("minute"), col("symbol")),
      min(col("ts")).as("open_ts") +:
        max(col("ts")).as("close_ts") +:
        Ops.ohlcvPartialAggs(col("price"), col("qty"), col("ts")))
      .withColumn("block", lit(blockId))

  /** ST4 option (b): streaming sink committing each micro-batch's
    * partial candles as block `block=<batchId>` through
    * [[graft.store.BlockStore.sink]]. A replayed batch (a crash between
    * the block write and the offset commit) replaces its block, so each
    * (minute, symbol, block) partial is on disk once. State is ZERO —
    * each batch aggregates only itself (typically ≤ minutes×symbols
    * rows), so this scales to any input rate; the merge cost moves to
    * read time, exactly as in the reference. */
  def partialSink(trades: DataFrame, partialsPath: String,
                  checkpointPath: String,
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    graft.store.BlockStore.sink(trades, partialsPath, checkpointPath,
      trigger)(stage)

  /** Stage one batch's partial candles into a block dir: the body of
    * [[partialSink]]. */
  def stage(batch: DataFrame)(dir: String): Unit =
    partialCandles(batch, blockId = 0L)
      .drop("block") // encoded by the partition directory
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Fixed-width `(epoch_us, block)` key: it makes `min_by`/`max_by`
    * deterministic when equal timestamps span blocks. */
  private def tieKey(ts: org.apache.spark.sql.Column) =
    format_string("%019d-%019d", unix_micros(ts), col("block"))

  /** Merge partial candles back into final per-(minute,symbol) candles —
    * the correct-readback query over the partials table (ST4), whose
    * `block` column is the block store's partition column. The
    * decimal volume partials close into a double here, ONCE — exactly
    * the value the direct batch aggregation produces. */
  def readCandles(partials: DataFrame): DataFrame =
    partials
      .groupBy("minute", "symbol")
      .agg(
        min_by(col("open"), tieKey(col("open_ts"))).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), tieKey(col("close_ts"))).as("close"),
        Ops.decFinal(col("volume")).as("volume"),
        sum(col("trades")).as("trades"))

  /** ST4 option (a): the Spark-native incremental candle stream —
    * watermarked tumbling-window OHLCV with bounded state. Append mode
    * emits each (minute, symbol) candle once its window passes the
    * watermark; rows later than `lateness` are dropped (a stated
    * deviation from the reference, which accepts arbitrarily late rows
    * into new partials — [[partialSink]] preserves that exactly). */
  def watermarkedCandles(trades: DataFrame,
                         lateness: String = "2 minutes"): DataFrame = {
    val windowed = trades
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 minute"), col("symbol"))
    Ops.aggSeq(windowed,
        Ops.ohlcvAggs(col("price"), col("qty"), col("ts")))
      .select(
        col("window.start").as("minute"), col("symbol"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("trades"))
  }

  /** Start option (a) writing finalized candles to a parquet table. */
  def candleSink(trades: DataFrame, candlesPath: String,
                 checkpointPath: String,
                 lateness: String = "2 minutes",
                 trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    watermarkedCandles(trades, lateness).writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointPath)
      .option("path", candlesPath)
      .format("parquet")
      .start()
}
