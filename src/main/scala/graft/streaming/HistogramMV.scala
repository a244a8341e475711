package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quantile-sketch materialized view on the mergeable
  * equi-width histogram (the streaming sibling of the batch
  * `trades_hist_quantiles` sketch, and the analogue of the reference's
  * AggregatingMergeTree + `quantileState` discipline: per-batch partial
  * states in the store, merge-on-read).
  *
  * Each micro-batch reduces to ≤ `buckets` counter rows per key — ZERO
  * streaming state (an exact streaming quantile would hold every value
  * in the state store). Merging partials is counter ADDITION, exact and
  * order/replay-shape independent, so the merged histogram over any
  * block set equals the batch histogram over the same rows — the spec
  * asserts that equality literally. Read time interpolates quantiles
  * from the merged counters with the histogram guarantee
  * |est − exact| ≤ bucket width.
  *
  * Unlike the batch query (which runs a bounds pass first), a stream
  * cannot rescan history for min/max, so the domain `[lo, hi)` is FIXED
  * configuration — the production choice for prices/latencies/sizes;
  * out-of-domain values clamp into the edge buckets (the estimate then
  * degrades gracefully to the edge-bucket bound rather than failing).
  *
  * Replay discipline: identical to [[HeavyHitters]] — `foreachBatch` is
  * at-least-once, so each batch writes its own `block=<id>` partition
  * wholesale through the crash-safe swap; a replay REPLACES its block
  * (any replay's histogram of that batch is exact, so last-write-wins
  * is lossless — stronger than MG, where replays are merely
  * valid-but-different). Store growth is O(buckets · batches);
  * compaction (sum blocks into one) follows
  * [[graft.store.Store.compactMonth]] and is elided here. */
object HistogramMV {

  /** Per-batch partial rows `(block, key, k, cnt, batch_n)` — one
    * counter per occupied bucket plus the batch row count (`batch_n`
    * rides on every row; `totalN` re-derives it per block, so an
    * empty-bucket batch still accounts — a batch with zero rows writes
    * an empty block, which merges as zero everywhere). */
  def partialHistogram(rows: DataFrame, keyCol: String, valueCol: String,
                       lo: Double, hi: Double, buckets: Int,
                       blockId: Long): DataFrame = {
    require(hi > lo, s"domain [$lo, $hi) is empty")
    val w = (hi - lo) / buckets
    rows
      .select(col(keyCol).as("key"), col(valueCol).cast("double").as("v"))
      .select(col("key"),
        least(lit(buckets - 1L),
          greatest(lit(0L), floor((col("v") - lit(lo)) / lit(w)).cast("long")))
          .as("k"))
      .groupBy("key", "k").agg(count(lit(1)).as("cnt"))
      .select(lit(blockId).as("block"), col("key"), col("k"), col("cnt"))
  }

  /** Write one batch's histogram as its `block=<id>` partition,
    * replacing any previous write for that block (replays REPLACE, see
    * class doc) via the shared crash-safe swap. */
  def writeBlock(rows: DataFrame, keyCol: String, valueCol: String,
                 lo: Double, hi: Double, buckets: Int,
                 partialsPath: String, blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId)(
      stage(rows, keyCol, valueCol, lo, hi, buckets))

  /** Stage one batch's histogram into a block dir: the body of
    * [[writeBlock]] and of a [[graft.store.BlockStore.sink]]. */
  def stage(rows: DataFrame, keyCol: String, valueCol: String,
            lo: Double, hi: Double, buckets: Int)(dir: String): Unit =
    partialHistogram(rows, keyCol, valueCol, lo, hi, buckets, blockId = 0L)
      .drop("block") // encoded by the partition directory
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Merged per-key histogram over every stored block — counter
    * addition, the mergeable-sketch operation. Empty-safe and
    * watermark-filtered through [[graft.store.BlockStore.read]].
    * `keyType` is the KEY column's type for the no-blocks-yet read
    * (a non-empty store infers its actual key type from the files):
    * a family written with a non-string key passes it here so the
    * probed-before-first-commit frame carries the SAME schema as
    * every post-commit read — a downstream union/comparison must
    * never see the store change type at its first block. */
  def merged(spark: SparkSession, partialsPath: String,
             keyType: org.apache.spark.sql.types.DataType =
               org.apache.spark.sql.types.StringType): DataFrame = {
    import org.apache.spark.sql.types._
    graft.store.BlockStore.read(spark, partialsPath,
      StructType(Seq(StructField("key", keyType),
        StructField("k", LongType), StructField("cnt", LongType))))
      .groupBy("key", "k").agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile estimates from the merged counters: for each requested
    * rank fraction the estimate interpolates inside the unique bucket
    * whose cumulative count straddles rank ⌈q·n⌉ (integer rank math as
    * the batch twin). Output: (key, n, q, est) with
    * |est − exact| ≤ (hi−lo)/buckets guaranteed for in-domain data. */
  def quantiles(spark: SparkSession, partialsPath: String,
                lo: Double, hi: Double, buckets: Int,
                qs: Seq[Double],
                keyType: org.apache.spark.sql.types.DataType =
                  org.apache.spark.sql.types.StringType): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    val w = (hi - lo) / buckets
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy("key").orderBy("k")
    val c = merged(spark, partialsPath, keyType)
      .withColumn("cum", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val perQ = qs.map { q =>
      val r = ceil(lit(q) * col("n")).cast("long")
      c.where(col("cum") >= r && col("cum") - col("cnt") < r)
        .select(col("key"), col("n"), lit(q).as("q"),
          (lit(lo) + lit(w) * (col("k").cast("double") +
            (r - col("cum") + col("cnt")).cast("double") /
              col("cnt").cast("double"))).as("est"))
    }
    perQ.reduce(_ unionAll _).orderBy("key", "q")
  }
}
