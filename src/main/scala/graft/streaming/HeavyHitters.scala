package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming heavy-hitters materialized view on the Misra-Gries
  * mergeable summary ([[graft.functions.MisraGries]]) — the sketch
  * sibling of the candle partials, one more block family fed by
  * [[graft.store.BlockStore.sink]], for the live "top users/symbols"
  * dashboard query over an unbounded stream.
  *
  * Each micro-batch reduces to ≤ k (item, cnt) rows plus its row count —
  * ZERO streaming state, O(k) stored bytes per batch no matter the
  * input rate (an exact streaming `groupBy(item).count()` in update mode
  * holds every distinct item in the state store forever). Read time
  * merges the partials by summing counters — by the mergeable-summaries
  * bound, the summed counter of any item undercounts its true count by
  * at most n/(k+1) across ANY merge tree, so the reader can return
  * candidates with exact upper/lower bounds and a provably complete
  * candidate set above the n/(k+1) noise floor.
  *
  * Replay discipline: `foreachBatch` is at-least-once, and a replayed
  * batch's MG summary is NOT guaranteed byte-identical (partial-merge
  * order inside the aggregation can shift which sub-threshold items
  * survive), so appending would store CONFLICTING rows per (block,
  * item). Each block therefore writes to its own `block=<id>` partition
  * directory with overwrite semantics — a replay REPLACES its block
  * wholesale (any replay's summary is a valid summary of that batch, so
  * last-write-wins preserves every bound); the replacement swaps via
  * tmp-dir + rename (see [[writeBlock]]), so concurrent readers race
  * only a rename-width window, not the whole rewrite. Store growth is
  * O(k · batches); maintenance
  * compaction (merge all blocks into one summed block, MG-reduce to k
  * rows) follows the [[graft.store.Store.compactMonth]] rewrite pattern
  * and is elided here.
  */
object HeavyHitters {

  /** Per-batch MG partial rows `(block, item, cnt, batch_n, batch_nn)`.
    * A batch with no (non-null) items keeps its counts through a single
    * null-item row (`explode_outer`) — dropping it would silently
    * shrink [[totalN]] and every bound derived from it. `batch_n`
    * counts ALL rows (the total-rows invariant and the frac-threshold
    * base); `batch_nn` counts only non-null items — the rows the MG
    * summary actually processed, and therefore the tight base for its
    * undercount slack (a null never increments or decrements a
    * counter). */
  def partialSummary(events: DataFrame, itemCol: String, k: Int,
                     blockId: Long): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .agg(expr(s"graft_mg_pairs($itemCol, $k)").as("s"),
        count(lit(1)).as("batch_n"),
        count(col(itemCol)).as("batch_nn"))
      .select(lit(blockId).as("block"), col("batch_n"), col("batch_nn"),
        explode_outer(col("s")).as("p"))
      .select(col("block"), col("p.id").as("item"), col("p.cnt").as("cnt"),
        col("batch_n"), col("batch_nn"))
  }

  /** Write one batch's summary as its `block=<id>` partition, replacing
    * any previous write for that block (see class doc: replays must
    * REPLACE, not append) through the shared crash-safe
    * [[graft.store.Store.swapDirectory]] — a plain `mode(overwrite)` on
    * the live directory would delete the old files for the whole
    * duration of the new write, leaving concurrent readers a wide
    * FileNotFound window; the swap narrows that to two renames. */
  def writeBlock(events: DataFrame, itemCol: String, k: Int,
                 partialsPath: String, blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId)(
      stage(events, itemCol, k))

  /** Stage one batch's summary into a block dir: the body of
    * [[writeBlock]] and of a [[graft.store.BlockStore.sink]]. */
  def stage(events: DataFrame, itemCol: String, k: Int)(dir: String): Unit =
    partialSummary(events, itemCol, k, blockId = 0L)
      .drop("block") // encoded by the partition directory
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Total rows summarized — one `batch_n` per block. Exposed for
    * invariant checks; [[candidates]] computes it from its own single
    * read of the store. */
  def totalN(partials: DataFrame): Long =
    partials
      .select("block", "batch_n").distinct()
      .agg(coalesce(sum("batch_n"), lit(0L)))
      .head().getLong(0)

  /** Non-null rows summarized — the rows the MG counters actually saw,
    * and so the TIGHT base for the merged undercount slack: each
    * block's summary undercounts any item by at most nn_b/(k+1), and
    * the bound is additive over the merge. */
  def totalNonNull(partials: DataFrame): Long = {
    // durable-store back-compat: blocks written before batch_nn existed
    // carry only batch_n — fall back to it PER ROW (a mixed store reads
    // old blocks as batch_nn = null under schema merge; dropping them
    // from the sum would SHRINK the slack base and break the bound).
    // batch_n is the documented-valid conservative base.
    val nn =
      if (partials.columns.contains("batch_nn"))
        coalesce(col("batch_nn"), col("batch_n")).as("batch_nn")
      else col("batch_n").as("batch_nn")
    partials
      .select(col("block"), nn).distinct()
      .agg(coalesce(sum("batch_nn"), lit(0L)))
      .head().getLong(0)
  }

  /** Heavy-hitter candidates at `frac` of the stream: items whose true
    * count COULD exceed frac·n. `cnt_lb` (summed partial counters) never
    * overcounts; `cnt_ub = cnt_lb + n/(k+1)` never undercounts — so
    * filtering on the upper bound keeps every true heavy hitter (the MG
    * completeness guarantee, survived through every batch boundary and
    * merge order), and the bounds let the consumer decide whether an
    * exact confirmation pass (the `events_mg_heavy` pattern) is needed.
    * Requires frac > 1/(k+1), the summary's noise floor — below that
    * an empty-summary item could qualify and NO sketch of width k can
    * answer. The store is read ONCE: the (small, O(k·batches)-row)
    * partials materialize through an eager local checkpoint, so the
    * `n` resolution and the returned frame's aggregation both reuse
    * those rows instead of re-listing/re-reading every block file —
    * on a long-running store the file listing IS the dominant read
    * cost. */
  def candidates(spark: SparkSession, partialsPath: String, k: Int,
                 frac: Double): DataFrame = {
    require(frac > 1.0 / (k + 1),
      s"frac=$frac is below the k=$k summary's noise floor 1/(k+1)")
    // mergeSchema: in a mixed old/new-format store, a single sampled
    // footer would decide whether batch_nn exists at all (the slack
    // base would then vary with store layout); partials are O(k·blocks)
    // rows, so the footer merge costs nothing
    val partials = spark.read.option("mergeSchema", "true")
      .parquet(partialsPath).localCheckpoint(true)
    // Two different row counts, on purpose: the frac threshold is
    // defined against ALL rows of the stream (n, the total-rows
    // invariant), while the undercount slack derives from the NON-NULL
    // rows the summaries actually processed — on a null-heavy stream
    // n/(k+1) would be needlessly loose and admit junk candidates whose
    // widened cnt_ub clears the bar only through slack they never earned
    val n = totalN(partials)
    val slack = totalNonNull(partials).toDouble / (k + 1)
    partials
      .where(col("item").isNotNull) // null-item rows only carry batch_n
      .groupBy("item")
      .agg(sum(col("cnt")).as("cnt_lb"))
      .withColumn("cnt_ub", (col("cnt_lb") + lit(slack)).cast("double"))
      .where(col("cnt_ub") > lit(frac) * n)
      .orderBy(col("cnt_lb").desc, col("item"))
  }
}
