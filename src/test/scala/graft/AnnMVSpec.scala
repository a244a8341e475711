package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.EmbQueries
import graft.store.BlockStore
import graft.streaming.AnnMV

/** Streaming ANN-index MV: per-batch nearest-centroid assignment
  * against a frozen quantizer, merged blocks equal the batch Lloyd
  * assignment, compaction folds losslessly, the cell-partitioned
  * inverted store's probe prune is sound before and after its
  * compaction, and the assignment math
  * (argmin L2², tie-break on centroid label) matches the
  * emb_kmeans_refine spelling it shares. */
class AnnMVSpec extends SparkSpec {

  // a 2-cell, 2-dim quantizer: cell 0 at the origin, cell 1 at (10,10)
  private def cents = {
    import spark.implicits._
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("clabel", "centroid")
  }

  private def vecsDf(rows: Seq[(Long, Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding")
  }

  private def vecJson(id: Long, label: Long, e: Seq[Double]): String =
    s"""{"vec_id":$id,"label":$label,"embedding":[${e.mkString(",")}]}"""

  private def vecStream(dir: String) =
    spark.readStream
      .schema("vec_id LONG, label LONG, embedding ARRAY<FLOAT>")
      .json(dir)

  private def readVecs(dir: String) =
    spark.read
      .schema("vec_id LONG, label LONG, embedding ARRAY<FLOAT>")
      .json(dir)

  private def collectAssign(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cell").distinct().orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("assignment picks the nearest centroid; exact ties break on the " +
    "smaller centroid label") {
    val out = collectAssign(AnnMV.partialAssignments(vecsDf(Seq(
      (1L, 9L, Seq(1f, 1f)),    // near origin → cell 0
      (2L, 9L, Seq(9f, 9f)),    // near (10,10) → cell 1
      (3L, 9L, Seq(5f, 5f)))),  // equidistant → tie → cell 0
      cents))
    assert(out == Seq((1L, 0L), (2L, 1L), (3L, 0L)))
  }

  test("merged streaming blocks == batch Lloyd assignment over the " +
    "union; new vectors are searchable without touching old blocks") {
    val src = tmpDir("amv-src")
    val partials = tmpDir("amv-partials")
    val ckpt = tmpDir("amv-ckpt")

    Files.writeString(Paths.get(src, "b1.json"), Seq(
      vecJson(1, 9, Seq(1, 2)), vecJson(2, 9, Seq(8, 9)))
      .mkString("\n"))
    assert(BlockStore.sink(vecStream(src), partials, ckpt,
      Trigger.AvailableNow())(AnnMV.stage(_, cents))
      .awaitTermination(120000))
    val blocksAfter1 = {
      val s = Files.list(Paths.get(partials))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.count(_.getFileName.toString.startsWith("block="))
      finally s.close()
    }

    Files.writeString(Paths.get(src, "b2.json"), Seq(
      vecJson(3, 9, Seq(0, 1)), vecJson(4, 9, Seq(12, 11)))
      .mkString("\n"))
    assert(BlockStore.sink(vecStream(src), partials, ckpt,
      Trigger.AvailableNow())(AnnMV.stage(_, cents))
      .awaitTermination(120000))

    val merged = collectAssign(AnnMV.assignments(spark, partials))
    val batch = collectAssign(
      EmbQueries.assignCells(readVecs(src), cents))
    assert(merged == batch)
    assert(merged == Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)))
    // incrementality: the second delivery added a block, it did not
    // rewrite the first one
    val blocksAfter2 = {
      val s = Files.list(Paths.get(partials))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.count(_.getFileName.toString.startsWith("block="))
      finally s.close()
    }
    assert(blocksAfter1 == 1 && blocksAfter2 == 2)
  }

  test("compaction folds committed blocks; assignments identical; a " +
    "replayed newer block still replaces") {
    val partials = tmpDir("amv-compact")
    val batches: Seq[Seq[(Long, Long, Seq[Float])]] = Seq(
      Seq((1L, 9L, Seq(1f, 1f)), (2L, 9L, Seq(9f, 9f))),
      Seq((3L, 9L, Seq(2f, 0f))),
      Seq((4L, 9L, Seq(11f, 12f))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      AnnMV.writeBlock(vecsDf(rows), cents, partials, blockId = i.toLong)
    }
    val before = collectAssign(AnnMV.assignments(spark, partials))

    AnnMV.compact(spark, partials, throughBlockId = 1L)
    val blockNames = {
      val s = Files.list(Paths.get(partials))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.startsWith("block=")).toSet
      finally s.close()
    }
    assert(blockNames == Set("block=1", "block=2"),
      s"expected fold + retained block, got $blockNames")
    assert(collectAssign(AnnMV.assignments(spark, partials)) == before)

    AnnMV.writeBlock(vecsDf(batches(2)), cents, partials, blockId = 2L)
    assert(collectAssign(AnnMV.assignments(spark, partials)) == before)
  }

  test("inverted store: a cell-pruned probe equals the unpruned probe " +
    "over the same blocks, before and after compactInverted") {
    graft.functions.GraftFunctions.register(spark)
    // 3 cells; the probe reads 2 of them
    val cents3 = {
      import spark.implicits._
      Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)), (2L, Seq(0.0, 10.0)))
        .toDF("clabel", "centroid")
    }
    val batches: Seq[Seq[(Long, Long, Seq[Float])]] = Seq(
      Seq((1L, 9L, Seq(1f, 2f)), (2L, 9L, Seq(9f, 9f)), (3L, 9L, Seq(1f, 9f))),
      Seq((4L, 9L, Seq(2f, 1f)), (5L, 9L, Seq(11f, 12f)), (6L, 9L, Seq(2f, 11f))),
      Seq((7L, 9L, Seq(3f, 1f)), (8L, 9L, Seq(1f, 12f))))
    val cells = tmpDir("amv-inv-cells")
    val flat = tmpDir("amv-inv-flat")
    // same rows, same block store; only the layout differs — `flat`
    // keeps `cell` as a data column, so its filter cannot skip files
    batches.zipWithIndex.foreach { case (rows, b) =>
      AnnMV.writeInvertedBlock(vecsDf(rows), cents3, cells, b.toLong)
      graft.store.BlockStore.writeBlock(flat, b.toLong) { tmp =>
        AnnMV.partialInverted(vecsDf(rows), cents3)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      }
    }
    val probes = Seq(0, 2)
    def probe(path: String) = AnnMV.inverted(spark, path)
      .where(col("cell").isin(probes: _*))
      .withColumn("q", typedLit(Seq(1f, 1f)))
      .select(col("vec_id"), expr("graft_cosine(embedding, q)").as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
    // (rows, files the executed scan read)
    def run(path: String) = {
      val df = probe(path)
      val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      (rows, graft.store.ScanStats.totals(df)._1)
    }

    val (unpruned, flatFiles) = run(flat)
    assert(unpruned.size == 5 &&
      unpruned.map(_._1).toSet.subsetOf(Set(1L, 3L, 4L, 6L, 7L, 8L)))
    assert(flatFiles == 3)
    // 3 blocks × 2 probed cells, never the cell=1 directories
    assert(run(cells) == ((unpruned, 6L)))

    AnnMV.compactInverted(spark, cells, throughBlockId = 2L)
    // the fold keeps `cell` physical: one block × 2 probed cells
    assert(run(cells) == ((unpruned, 2L)))
  }

  test("per-batch assignment broadcasts the codebook — no shuffle of " +
    "the vector side before the argmin's partial aggregation") {
    val plan = AnnMV.partialAssignments(
      vecsDf(Seq((1L, 9L, Seq(1f, 1f)))), cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      "codebook join is not a broadcast")
  }
}
