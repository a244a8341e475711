package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.BlockStore
import graft.streaming.{AnnMV, IndexMV, ProjectionMV}

/** The long-horizon life of a continuously fed MV, at toy scale, for
  * three block-store families (the ANN inverted lists, the posting-list
  * index and the ingest-maintained aggregate projection): 12 blocks
  * (block = id mod 12) through interleaved ingest → compact → expire
  * cycles, then a replay of a retired block, then a HASH-GATED readback
  * against a batch twin over exactly the non-expired rows.
  *
  * The cycle: ingest 0..3 → compact(≤3) → ingest 4,5 → expire(<4)
  * [retires the folded history; watermark 4] → ingest 6..8 →
  * compact(≤7) [the fold spans the watermark boundary's survivors] →
  * ingest 9..11 → expire(<8) [retires a folded block: rows 4..7 leave
  * together] → compact(≤10) [the expiry watermark must survive
  * compaction] → replay block 5 [id < watermark: the write is dropped,
  * retired data never comes back].
  *
  * The gate is content equality under an order-independent checksum
  * (count + unordered sum of per-row xxhash64), computed distributively
  * — the same check holds at any scale without collecting the store. */
class MvMaintenanceSpec extends SparkSpec {

  private val NumBlocks = 12
  private val K = 5 // posting-heap bound, same as docs_posting_lists_mv
  private val Rows = 48L

  /** (row count, unordered sum of row hashes). The sum rides an
    * unbounded decimal: 2⁶³-magnitude hashes overflow a Long sum under
    * ANSI after a few thousand rows. */
  private def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val r = df
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  private def blockOf(df: DataFrame, idCol: String, i: Int) =
    df.where(pmod(col(idCol), lit(NumBlocks)) === i)

  private def retained(df: DataFrame, idCol: String) =
    df.where(pmod(col(idCol), lit(NumBlocks)) >= 8)

  /** Run the cycle over one store: `write(i)` commits block i's rows as
    * block i, `compact(id)` folds every block ≤ id. */
  private def cycle(store: String, write: Int => Unit,
                    compact: Long => Unit): Unit = {
    (0 to 3).foreach(write)
    compact(3L)
    (4 to 5).foreach(write)
    BlockStore.expire(store, beforeBlockId = 4L)
    (6 to 8).foreach(write)
    compact(7L)
    (9 to 11).foreach(write)
    BlockStore.expire(store, beforeBlockId = 8L)
    compact(10L)
    write(5) // an at-least-once replay of a retired block
    assert(!Files.isDirectory(Paths.get(store, "block=5")),
      "a replay of a retired block resurrected its block dir")
  }

  test("ann_match: the ANN inverted lists after the 12-block cycle == " +
    "the batch inverted lists over the retained vectors") {
    import spark.implicits._
    // int labels, as the corpus stores them: the store's `cell`
    // partition column reads back as an int
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 10.0)),
      (2, Seq(0.0, 10.0))).toDF("clabel", "centroid")
    val vecs = (0L until Rows).map(i =>
      (i, (i % 4).toInt, Seq((i % 11).toFloat, (i % 7).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val inv = tmpDir("mvmaint-ann") + "/store"
    cycle(inv,
      i => AnnMV.writeInvertedBlock(blockOf(vecs, "vec_id", i), cents, inv, i),
      id => AnnMV.compactInverted(spark, inv, id))
    val annCols = Seq("vec_id", "label", "cell", "embedding")
    assert(checksum(AnnMV.inverted(spark, inv), annCols) ==
      checksum(AnnMV.partialInverted(retained(vecs, "vec_id"), cents), annCols))
  }

  test("idx_match: the posting-list index after the 12-block cycle == " +
    "one block of the retained documents") {
    import spark.implicits._
    val words = Vector("cat", "dog", "owl", "elk", "emu", "yak", "gnu")
    val docs = (0L until Rows).map(i =>
      (i, Seq(i % 7, i % 5, i % 3, (i * i) % 7).map(j => words(j.toInt))
        .mkString(" "))).toDF("doc_id", "text")
    val idx = tmpDir("mvmaint-idx") + "/store"
    cycle(idx,
      i => IndexMV.writeBlock(blockOf(docs, "doc_id", i), K, idx, i),
      id => IndexMV.compact(spark, idx, K, id))
    // the twin reads through the same merged() fold, so the equality
    // isolates block decomposition and maintenance, not presentation
    val twin = tmpDir("mvmaint-idx-twin") + "/store"
    IndexMV.writeBlock(retained(docs, "doc_id"), K, twin, 0L)
    val idxCols = Seq("term", "df", "cf", "top_docs")
    assert(checksum(IndexMV.merged(spark, idx, K), idxCols) ==
      checksum(IndexMV.merged(spark, twin, K), idxCols))
  }

  test("proj_match: the projection probe after the 12-block cycle == " +
    "the batch aggregation over the retained trades") {
    import spark.implicits._
    val trades = (0L until Rows).map(i =>
      (i, Seq("BTC", "ETH", "SOL")((i % 3).toInt), 0.25 * (i % 9) + 0.1))
      .toDF("trade_id", "symbol", "qty")
    def projBlock(i: Int) = blockOf(trades, "trade_id", i).select("symbol", "qty")
    val proj = tmpDir("mvmaint-proj") + "/store"
    cycle(proj, i => ProjectionMV.writeBlock(projBlock(i), proj, i),
      id => ProjectionMV.compact(spark, proj, id))
    assert(!ProjectionMV.writeBlock(projBlock(5), proj, 5L),
      "a projection replay of a retired block was accepted")
    // the probe reads projection partials only
    val projCols = Seq("symbol", "trades", "volume")
    assert(checksum(ProjectionMV.probe(spark, proj), projCols) ==
      checksum(retained(trades, "trade_id").groupBy("symbol")
        .agg(count(lit(1)).as("trades"), graft.ops.Ops.dsum(col("qty")).as("volume")),
        projCols))
  }
}
