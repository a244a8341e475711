package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Ops

/** Aggregate-PROJECTION maintenance in the REAL streaming sink (r17,
  * r16 verdict task 4 — the production shape of the batch
  * `trades_projection_ingest` staging loop): every micro-batch commits
  * its fact rows (`side=base`) AND a per-symbol aggregate projection
  * computed from those same rows (`side=proj`: count + exact-decimal
  * volume partials) in ONE `block=<batchId>` directory rename — the
  * ClickHouse per-part projection contract (a part and its projections
  * are one atomic unit; reference `sql/V1__create_trades_table.sql`'s
  * MergeTree table is the base this would hang off). Because base and
  * projection share the block rename:
  *
  *  - an at-least-once `foreachBatch` replay REPLACES the whole block
  *    losslessly (both sides rewritten from the replayed rows — the
  *    established [[graft.store.BlockStore.writeBlock]] contract), so
  *    the projection can never double-count a replay its base absorbed;
  *  - TTL ([[graft.store.BlockStore.expire]]) retires base and
  *    projection together, and a replay of an expired block is refused
  *    for BOTH sides by the same persisted watermark;
  *  - [[compact]] folds committed blocks by UNIONING bases and
  *    RE-MERGING projection partials (sum of counts, sum of exact
  *    decimals — never a rescan of base rows), so the probe's
  *    |symbols|·|blocks| cost is bounded by the maintenance horizon.
  *
  * The probe ([[probe]]) answers the per-symbol rollup from projection
  * partials only — readback ∝ |symbols|·|blocks|, never the fact
  * table. ProjectionSinkSpec hash-gates the streamed store against the
  * batch twin over the same delivered rows, replay and expiry
  * included; MvMaintenanceSpec drives the 12-block ingest → compact →
  * expire → replay cycle. */
object ProjectionMV {

  /** The projection partial row: per-symbol count + exact decimal
    * volume ([[Ops.dsumPartial]] — a downstream [[Ops.decFinal]]
    * re-aggregates partials without ever re-quantizing a double). */
  val projSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("cnt", LongType),
    StructField("vol", DecimalType(38, 10))))

  /** Commit one batch as `block=<blockId>` through [[stage]]. Returns
    * false when the block id is below the expiry watermark (the
    * replay-of-expired-data refusal). */
  def writeBlock(batch: DataFrame, store: String, blockId: Long): Boolean =
    graft.store.BlockStore.writeBlock(store, blockId)(stage(batch))

  /** Stage one batch's block dir: base rows land first, the projection
    * is computed FROM THE LANDED FILES (not the in-flight frame), and
    * the one rename that commits the dir publishes both sides — or
    * nothing. The body of [[writeBlock]] and of a
    * [[graft.store.BlockStore.sink]] fed by `TradeIngest.normalize`. */
  def stage(batch: DataFrame)(dir: String): Unit = {
    val tmpP = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir))
    val base = tmpP.resolve("side=base").toString
    batch.coalesce(1).write.mode("overwrite").parquet(base)
    batch.sparkSession.read.parquet(base)
      .groupBy("symbol")
      .agg(count(lit(1)).as("cnt"), Ops.dsumPartial(col("qty")).as("vol"))
      .coalesce(1)
      .write.mode("overwrite").parquet(tmpP.resolve("side=proj").toString)
  }

  private def sideDirs(store: String, side: String): List[String] = {
    val root = java.nio.file.Paths.get(store).toAbsolutePath
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else graft.store.BlockStore.blockDirs(root)
      .map(_.resolve(s"side=$side").toString)
  }

  /** Per-symbol rollup served from projection partials ONLY — the
    * aggregate-projection read path. Scans |symbols|·|blocks| partial
    * rows; the fact rows never load. */
  def probe(spark: SparkSession, store: String): DataFrame = {
    val dirs = sideDirs(store, "proj")
    val partials =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], projSchema)
      else spark.read.parquet(dirs: _*)
    partials
      .groupBy("symbol")
      .agg(sum(col("cnt")).as("trades"), Ops.decFinal(col("vol")).as("volume"))
      .orderBy("symbol")
  }

  /** Merge-on-read over the base side (the fact rows) — the twin the
    * spec hash-gates [[probe]] against, and the access path ad-hoc
    * queries that need raw rows would take. */
  def baseRows(spark: SparkSession, store: String,
               schema: StructType): DataFrame = {
    val dirs = sideDirs(store, "base")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(dirs: _*)
  }

  /** Fold committed blocks ≤ `throughBlockId` into one: bases union
    * (identity fold), projections RE-MERGE from partials — `sum(cnt)`,
    * decimal `sum(vol)` — so compaction cost is ∝ |symbols|·|blocks|,
    * never a base rescan. Crash-safety, lease fencing, watermark
    * preservation and folded-block naming are
    * [[graft.store.BlockStore.compactWith]]'s — the one audited
    * implementation. */
  def compact(spark: SparkSession, store: String,
              throughBlockId: Long): Unit =
    graft.store.BlockStore.compactWith(spark, store, throughBlockId) {
      (oldBlocks, foldedDir) =>
        val bases = oldBlocks.map(_.resolve("side=base").toString)
        spark.read.parquet(bases: _*)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$foldedDir/side=base")
        val projs = oldBlocks.map(_.resolve("side=proj").toString)
        spark.read.parquet(projs: _*)
          .groupBy("symbol")
          .agg(sum(col("cnt")).as("cnt"), sum(col("vol")).as("vol"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$foldedDir/side=proj")
    }
}
