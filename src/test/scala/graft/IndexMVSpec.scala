package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.store.BlockStore
import graft.streaming.IndexMV

/** Streaming inverted-index MV: merged blocks equal the batch index
  * over the same corpus, posting heaps stay k-bounded through the
  * merge, and a replayed block replaces losslessly. */
class IndexMVSpec extends SparkSpec {

  private val K = 3

  private def docJson(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text"}"""

  private def docStream(dir: String) =
    spark.readStream.schema("doc_id LONG, text STRING").json(dir)

  /** The batch index the stream must converge to: same spelling as the
    * registered docs_posting_lists lineage, over ALL delivered docs. */
  private def batchIndex(srcDir: String) = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.schema("doc_id LONG, text STRING").json(srcDir)
      .select(col("doc_id"),
        explode(expr(graft.queries.DocQueries.tokSpark)).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        expr(s"graft_topk(cast(c AS double), doc_id, $K)").as("topk"))
      .select(col("tok").as("term"), col("df"), col("cf"),
        expr("concat_ws(',', transform(topk, p -> cast(p.id AS string)))")
          .as("top_docs"))
  }

  private def collectIndex(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

  test("merged streaming blocks == batch index over the union corpus") {
    val src = tmpDir("imv-src")
    val partials = tmpDir("imv-partials")
    val ckpt = tmpDir("imv-ckpt")

    // delivery 1: 'cat' concentrated in docs 1-2, 'dog' in doc 3
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      docJson(1, "cat cat cat"),
      docJson(2, "cat dog"),
      docJson(3, "dog dog dog dog")).mkString("\n"))
    assert(BlockStore.sink(docStream(src), partials, ckpt,
      Trigger.AvailableNow())(IndexMV.stage(_, K))
      .awaitTermination(120000))

    // delivery 2: four more docs shift both df and the top-k postings —
    // doc 6's tf=5 must displace batch-1 postings after the merge
    Files.writeString(Paths.get(src, "b2.json"), Seq(
      docJson(4, "cat owl"),
      docJson(5, "owl owl"),
      docJson(6, "cat cat cat cat cat"),
      docJson(7, "dog cat")).mkString("\n"))
    assert(BlockStore.sink(docStream(src), partials, ckpt,
      Trigger.AvailableNow())(IndexMV.stage(_, K))
      .awaitTermination(120000))

    val merged = collectIndex(IndexMV.merged(spark, partials, K))
    assert(merged == collectIndex(batchIndex(src)))
    // the displacement actually happened: doc 6 (tf 5) leads cat's
    // postings, doc 1 (tf 3) second, doc 2/4/7 (tf 1) cut at k=3
    val cat = merged.find(_._1 == "cat").get
    assert(cat._2 == 5L && cat._4 == "6,1,2")
    // postings stay k-bounded through the merge
    merged.foreach { case (t, _, _, docs) =>
      assert(docs.split(",").length <= K, s"term $t exceeded k")
    }
  }

  test("compaction folds old blocks into one; merged reads identical; " +
    "a replayed newer block still replaces") {
    val src = tmpDir("imv-compact-src")
    val partials = tmpDir("imv-compact-partials")

    // three batches as three blocks
    val batches = Seq(
      Seq(docJson(1, "cat cat cat"), docJson(2, "cat dog")),
      Seq(docJson(3, "dog dog dog dog"), docJson(4, "cat owl")),
      Seq(docJson(5, "owl owl"), docJson(6, "cat cat cat cat cat")))
    batches.zipWithIndex.foreach { case (docsJson, i) =>
      Files.writeString(Paths.get(src, s"b$i.json"), docsJson.mkString("\n"))
      val docs = spark.read.schema("doc_id LONG, text STRING")
        .json(s"$src/b$i.json")
      IndexMV.writeBlock(docs, K, partials, blockId = i.toLong)
    }
    val before = collectIndex(IndexMV.merged(spark, partials, K))

    // compact the checkpoint-committed history (blocks 0-1); block 2 is
    // the newest, still individually replayable
    IndexMV.compact(spark, partials, K, throughBlockId = 1L)
    val dirs = Files.list(Paths.get(partials)).iterator()
    val blockNames = scala.jdk.CollectionConverters
      .IteratorHasAsScala(dirs).asScala
      .map(_.getFileName.toString).filter(_.startsWith("block=")).toSet
    assert(blockNames == Set("block=1", "block=2"),
      s"expected fold + retained block, got $blockNames")
    val after = collectIndex(IndexMV.merged(spark, partials, K))
    assert(after == before, "compaction changed the merged index")

    // at-least-once redelivery of the newest batch still replaces
    val replay = spark.read.schema("doc_id LONG, text STRING")
      .json(s"$src/b2.json")
    IndexMV.writeBlock(replay, K, partials, blockId = 2L)
    val replayed = collectIndex(IndexMV.merged(spark, partials, K))
    assert(replayed == before, "replay after compaction drifted the index")

    // idempotent: compacting again with nothing to fold is a no-op
    IndexMV.compact(spark, partials, K, throughBlockId = 1L)
    assert(collectIndex(IndexMV.merged(spark, partials, K)) == before)
  }

  test("batch-bootstrap writeBlocks == per-block writeBlock deliveries, " +
    "block for block and through the merge") {
    val src = tmpDir("imv-bulk-src")
    // doc_id % 3 blocking with skewed tfs, so every block's bounded
    // heap and df/cf partials differ and any cross-block leakage in the
    // one-pass grouping would show
    Files.writeString(Paths.get(src, "b.json"), Seq(
      docJson(1, "cat cat dog"), docJson(2, "cat owl owl"),
      docJson(3, "dog dog"), docJson(4, "owl cat dog cat"),
      docJson(5, "cat"), docJson(6, "dog owl dog"),
      docJson(7, "owl owl owl cat")).mkString("\n"))
    val docs = spark.read.schema("doc_id LONG, text STRING")
      .json(src.toString)
    val bulk = tmpDir("imv-bulk-a")
    val perBlock = tmpDir("imv-bulk-b")
    IndexMV.writeBlocks(docs, pmod(col("doc_id"), lit(3)), K, bulk)
    (0 until 3).foreach { blk =>
      IndexMV.writeBlock(
        docs.where(pmod(col("doc_id"), lit(3)) === blk), K, perBlock,
        blockId = blk.toLong)
    }
    // store-equal per block (same partial rows), not just merge-equal
    (0 until 3).foreach { blk =>
      def rows(root: String) =
        spark.read.parquet(s"$root/block=$blk")
          .select(col("tok"), col("df"), col("cf"),
            expr("transform(topk, p -> p.id)").as("ids"))
          .orderBy("tok").collect().map(_.toSeq.toList).toList
      assert(rows(bulk) == rows(perBlock), s"block $blk partial drifted")
    }
    assert(collectIndex(IndexMV.merged(spark, bulk, K)) ==
      collectIndex(IndexMV.merged(spark, perBlock, K)))
    // the staging root is cleaned up: only block dirs remain
    assert(!Files.exists(Paths.get(bulk, "_ingest_stage")))
  }

  test("writeBlocks commits explicit empty blocks for expected ids — " +
    "store-equal to the per-block path on corpora with empty blocks") {
    val src = tmpDir("imv-empty-src")
    // doc_id % 3 == 2 never occurs → block 2 is EMPTY
    Files.writeString(Paths.get(src, "b.json"), Seq(
      docJson(0, "cat dog"), docJson(1, "owl"),
      docJson(3, "dog dog"), docJson(4, "owl cat")).mkString("\n"))
    val docs = spark.read.schema("doc_id LONG, text STRING")
      .json(src.toString)
    val bulk = tmpDir("imv-empty-a")
    val perBlock = tmpDir("imv-empty-b")
    IndexMV.writeBlocks(docs, pmod(col("doc_id"), lit(3)), K, bulk,
      expectedBlocks = 0L to 2L)
    (0 until 3).foreach { blk =>
      IndexMV.writeBlock(
        docs.where(pmod(col("doc_id"), lit(3)) === blk), K, perBlock,
        blockId = blk.toLong)
    }
    def blockDirs(root: String) = {
      val s = Files.list(Paths.get(root))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.startsWith("block=")).toSet
      finally s.close()
    }
    assert(blockDirs(bulk) == blockDirs(perBlock),
      "absent-vs-empty block dirs diverged between the ingest paths")
    assert(blockDirs(bulk).contains("block=2"))
    // the explicit empty block reads back as zero rows with the partial
    // schema (a racing reader sees a valid empty parquet dir, not ENOENT)
    assert(spark.read.parquet(s"$bulk/block=2").count() == 0)
    assert(collectIndex(IndexMV.merged(spark, bulk, K)) ==
      collectIndex(IndexMV.merged(spark, perBlock, K)))
  }

  test("a replayed block replaces its previous write losslessly") {
    val src = tmpDir("imv-replay-src")
    val partials = tmpDir("imv-replay-partials")

    Files.writeString(Paths.get(src, "b1.json"),
      Seq(docJson(1, "cat dog"), docJson(2, "cat")).mkString("\n"))
    val docs = spark.read.schema("doc_id LONG, text STRING")
      .json(src.toString)
    IndexMV.writeBlock(docs, K, partials, blockId = 0)
    val once = collectIndex(IndexMV.merged(spark, partials, K))
    // at-least-once redelivery of the same batch
    IndexMV.writeBlock(docs, K, partials, blockId = 0)
    val twice = collectIndex(IndexMV.merged(spark, partials, K))
    assert(once == twice, "replayed block changed the merged index")
    assert(once.find(_._1 == "cat").get._2 == 2L)
  }
}
