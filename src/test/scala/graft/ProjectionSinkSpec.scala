package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Ops
import graft.store.BlockStore
import graft.streaming.{ProjectionMV, StreamManager, TradeIngest}

/** Projection maintenance in the REAL streaming sink (r17):
  * `TradeIngest.normalize` → a [[graft.store.BlockStore.sink]] of
  * [[ProjectionMV.stage]] over N micro-batches commits base +
  * per-symbol aggregate projection per block; the projection readback
  * must equal the batch aggregation over the same delivered rows,
  * survive an at-least-once replay, and refuse a replay of an expired
  * block — base and projection as one atomic unit throughout. */
class ProjectionSinkSpec extends SparkSpec {

  private def envelope(sym: String, id: Long, price: String, qty: String,
                       tms: Long): String =
    s"""{"stream":"trades","data":{"s":"$sym","t":$id,"p":"$price",""" +
      s""""q":"$qty","T":$tms,"m":false}}"""

  /** Three delivery files → three micro-batches under
    * maxFilesPerTrigger=1 + AvailableNow. */
  private def stageDeliveries(src: String): Unit = {
    Files.writeString(Paths.get(src, "d1.jsonl"), Seq(
      envelope("BTC", 1, "100.5", "2.0", 1700000001000L),
      envelope("ETH", 2, "10.25", "3.5", 1700000002000L)).mkString("\n"))
    Files.writeString(Paths.get(src, "d2.jsonl"), Seq(
      envelope("BTC", 3, "101.0", "1.0", 1700000003000L),
      envelope("SOL", 4, "5.75", "10.0", 1700000004000L)).mkString("\n"))
    Files.writeString(Paths.get(src, "d3.jsonl"), Seq(
      envelope("ETH", 5, "10.5", "0.5", 1700000005000L),
      envelope("BTC", 6, "99.5", "4.0", 1700000006000L)).mkString("\n"))
  }

  private def batchTwin(src: String) =
    TradeIngest.normalize(spark.read.text(src))
      .groupBy("symbol")
      .agg(count(lit(1)).as("trades"), Ops.dsum(col("qty")).as("volume"))
      .orderBy("symbol")

  private def rows(df: org.apache.spark.sql.DataFrame): List[String] =
    df.collect().map(_.toString).toList

  test("streamed projection store == batch aggregation over the same " +
    "rows, through the StreamManager lifecycle, one block per batch") {
    val src = tmpDir("projsink-src")
    val store = tmpDir("projsink-store") + "/proj"
    val ckpt = tmpDir("projsink-ckpt")
    stageDeliveries(src)

    val mgr = new StreamManager("projection-ingest")
    mgr.start(() => BlockStore.sink(
      TradeIngest.normalize(
        spark.readStream.option("maxFilesPerTrigger", 1).text(src)),
      store, ckpt, Trigger.AvailableNow())(ProjectionMV.stage))
    spark.streams.active.foreach(_.awaitTermination(120000))
    assert(mgr.currentState == "idle")
    assert(mgr.status("last_error") == null)

    // one block per micro-batch, each carrying BOTH sides
    val root = Paths.get(store).toAbsolutePath
    val blocks = graft.store.BlockStore.blockDirs(root)
    assert(blocks.size == 3, s"expected 3 blocks, got ${blocks.map(_.toString)}")
    blocks.foreach { b =>
      assert(Files.isDirectory(b.resolve("side=base")), s"$b missing base")
      assert(Files.isDirectory(b.resolve("side=proj")), s"$b missing proj")
    }

    assert(rows(ProjectionMV.probe(spark, store)) == rows(batchTwin(src)))
  }

  test("at-least-once replay REPLACES its block: probe unchanged; an " +
    "expired block is refused for base and projection together") {
    val src = tmpDir("projreplay-src")
    val store = tmpDir("projreplay-store") + "/proj"
    val ckpt = tmpDir("projreplay-ckpt")
    stageDeliveries(src)
    val q = BlockStore.sink(
      TradeIngest.normalize(
        spark.readStream.option("maxFilesPerTrigger", 1).text(src)),
      store, ckpt, Trigger.AvailableNow())(ProjectionMV.stage)
    q.awaitTermination(120000)

    val want = rows(ProjectionMV.probe(spark, store))
    val root = Paths.get(store).toAbsolutePath

    // replay of a committed batch: re-commit block 1 from ITS OWN base
    // rows (exactly what a foreachBatch re-run delivers) — lossless
    val replayRows = spark.read.parquet(
      root.resolve("block=1").resolve("side=base").toString)
    assert(ProjectionMV.writeBlock(replayRows, store, 1L))
    assert(rows(ProjectionMV.probe(spark, store)) == want,
      "replay of a committed block changed the projection readback")

    // expire block 0: base AND projection leave together ...
    val gone = spark.read.parquet(
      root.resolve("block=0").resolve("side=base").toString)
    val goneTrades = gone.count()
    graft.store.BlockStore.expire(store, beforeBlockId = 1L)
    assert(!Files.exists(root.resolve("block=0")))
    val after = ProjectionMV.probe(spark, store)
    val totalAfter = after.agg(sum(col("trades"))).head().getLong(0)
    assert(totalAfter == 6 - goneTrades) // 6 delivered rows in total

    // ... and the projection still matches ITS live base exactly
    val liveTwin = ProjectionMV.baseRows(spark, store,
      spark.read.parquet(
        root.resolve("block=1").resolve("side=base").toString).schema)
      .groupBy("symbol")
      .agg(count(lit(1)).as("trades"), Ops.dsum(col("qty")).as("volume"))
      .orderBy("symbol")
    assert(rows(after) == rows(liveTwin))

    // a replay of the EXPIRED block must be refused — both sides
    assert(!ProjectionMV.writeBlock(gone, store, 0L),
      "expired block resurrected through the projection sink")
    assert(!Files.exists(root.resolve("block=0")))
    assert(rows(ProjectionMV.probe(spark, store)) == rows(liveTwin))
  }

  test("compaction folds bases and RE-MERGES projection partials; the " +
    "probe hash survives") {
    val src = tmpDir("projcompact-src")
    val store = tmpDir("projcompact-store") + "/proj"
    val ckpt = tmpDir("projcompact-ckpt")
    stageDeliveries(src)
    val q = BlockStore.sink(
      TradeIngest.normalize(
        spark.readStream.option("maxFilesPerTrigger", 1).text(src)),
      store, ckpt, Trigger.AvailableNow())(ProjectionMV.stage)
    q.awaitTermination(120000)

    val want = rows(ProjectionMV.probe(spark, store))
    ProjectionMV.compact(spark, store, throughBlockId = 1L)
    val root = Paths.get(store).toAbsolutePath
    val blocks = graft.store.BlockStore.blockDirs(root).map(
      graft.store.BlockStore.blockId).sorted
    assert(blocks == List(1L, 2L), s"expected folded {1,2}, got $blocks")
    assert(rows(ProjectionMV.probe(spark, store)) == want,
      "compaction changed the projection readback")
    // the folded block still carries both sides
    assert(Files.isDirectory(root.resolve("block=1").resolve("side=base")))
    assert(Files.isDirectory(root.resolve("block=1").resolve("side=proj")))
  }
}
