package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming inverted-index materialized view — incremental maintenance
  * of the retrieval index the batch `docs_posting_lists` query builds
  * (per-term document frequency, collection frequency, and a bounded
  * top-k posting sample by term frequency), in the store's established
  * sketch-MV discipline ([[HistogramMV]]/[[HeavyHitters]]: per-batch
  * partial blocks, merge-on-read, replays REPLACE their block through
  * the crash-safe swap).
  *
  * Everything merged is a mergeable summary: df/cf partials add as
  * counters, and the bounded posting heaps merge by union + re-select
  * (`graft_topk` over the union of per-block heaps) — exact because the
  * per-(term, doc) tf each heap entry carries is complete within its
  * block. That rests on ONE delivery contract, stated loudly:
  *
  * **A document's text arrives whole, in exactly one micro-batch.**
  * (Append-only corpus feed — the normal shape of a crawl/ingest
  * pipeline. If a doc could split across batches, its tf would split
  * across blocks and the posting merge would under-rank it; doc UPDATES
  * likewise need a delete/compact pass, same as the reference's
  * ReplacingMergeTree discipline, out of scope here.)
  *
  * Scale shape: each block holds ≤ |vocab| rows (one per term seen in
  * the batch) with ≤ k postings each — the shuffle and the store both
  * carry O(vocab × k) per batch regardless of batch row count; read-time
  * merge is a groupBy over (vocab × blocks) summary rows, never the
  * corpus. Store growth is O(vocab · batches) until [[compact]] folds
  * the old blocks into one through the same crash-safe swap.
  * Retention: [[graft.store.BlockStore.expire]] retires blocks under a
  * persisted watermark — for this family that means the index FORGETS
  * the expired batches' documents (df/cf counters and postings are
  * per-block partials, so dropping a block exactly removes its docs'
  * contribution), the retrieval-side analogue of the reference's
  * 90-day TTL. */
object IndexMV {

  // THE corpus tokenizer — shared with the batch index
  // (graft.queries.DocQueries), so the merged streaming index can never
  // silently tokenize differently from the docs_posting_lists lineage
  // it claims equality with
  // doc_id non-null is asserted HERE, not assumed downstream: graft_topk
  // skips null ids, so a term whose every occurrence carried a null
  // doc_id would keep df/cf partials but an empty heap — and merged()'s
  // counters↔posts inner join would silently drop it from the index
  private def tokens(docs: DataFrame): DataFrame = docs
    .select(
      // the assert wraps the CONSUMED column (a dropped assert-only
      // column would be pruned out of the plan, assertion and all);
      // assert_true yields null on pass, so the `when` always returns
      // doc_id or throws
      when(assert_true(col("doc_id").isNotNull,
          lit("IndexMV: null doc_id in corpus batch")).isNull,
        col("doc_id")).as("doc_id"),
      explode(expr(graft.queries.DocQueries.tokSpark)).as("tok"))

  /** One batch's index partial: per-term `(tok, df, cf, topk)` where
    * `topk` is the bounded (tf, doc_id) heap over THIS batch's docs. */
  def partialIndex(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    tokens(docs)
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        expr(s"graft_topk(cast(c AS double), doc_id, $k)").as("topk"))
  }

  /** Write one batch's partial as its `block=<id>` partition, replacing
    * any previous write for that block (at-least-once replays REPLACE —
    * a batch's partial is exact, so last-write-wins is lossless). */
  def writeBlock(docs: DataFrame, k: Int, partialsPath: String,
                 blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId)(stage(docs, k))

  /** Stage one batch's partial into a block dir: the body of
    * [[writeBlock]] and of a [[graft.store.BlockStore.sink]]. */
  def stage(docs: DataFrame, k: Int)(dir: String): Unit =
    partialIndex(docs, k)
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Batch-BOOTSTRAP ingest: stage every block's index partial from ONE
    * corpus pass — `blockCol` (a pure function of `doc_id`) splits the
    * grouped aggregation by block, so the result per block is exactly
    * [[partialIndex]] of that block's documents — then commit each
    * block through the same watermark-gated crash-safe
    * [[graft.store.BlockStore.writeBlock]] swap, by rename.
    * IndexMVSpec pins `merged(writeBlocks(...)) == merged(per-block
    * writeBlock deliveries)` literally. This is the backfill shape at
    * 100 TB: history is aggregated in one pass with per-block atomic
    * commits (per-block [[writeBlock]] would re-scan the corpus once
    * per block), and the stream then appends new blocks through a
    * [[graft.store.BlockStore.sink]] of [[stage]] against the same store. The final repartition by
    * block puts each block's rows in one task, so every staged block
    * is one parquet file — the same file shape `writeBlock`'s
    * `coalesce(1)` produces. */
  /** @param expectedBlocks block ids that must exist in the store even
    *   when the corpus has no documents for them. The staged-partition
    *   discovery only sees blocks with rows, whereas the per-block
    *   [[writeBlock]] path commits an explicit empty `block=` dir — so
    *   without this, the two ingest paths produced merge-equal but not
    *   STORE-equal layouts on corpora with empty blocks (r12 ADVICE).
    *   Callers that know the block-key range (every block key here is a
    *   pure function with a known modulus) should pass it. */
  def writeBlocks(docs: DataFrame, blockCol: org.apache.spark.sql.Column,
                  k: Int, partialsPath: String,
                  expectedBlocks: Seq[Long] = Nil): Unit = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val staged = java.nio.file.Paths.get(partialsPath, "_ingest_stage")
    tokens(docs)
      .withColumn("block", blockCol.cast("long"))
      .groupBy("block", "tok", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("block", "tok")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        expr(s"graft_topk(cast(c AS double), doc_id, $k)").as("topk"))
      .repartition(col("block"))
      .write.partitionBy("block").mode("overwrite").parquet(staged.toString)
    val blockIds = {
      val s = java.nio.file.Files.list(staged)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("block="))
          .map(_.stripPrefix("block=").toLong).toList.sorted
      } finally s.close()
    }
    (blockIds ++ expectedBlocks.filterNot(blockIds.contains)).sorted
      .foreach { b =>
        graft.store.BlockStore.writeBlock(partialsPath, b) { tmp =>
          val src = staged.resolve(s"block=$b")
          if (java.nio.file.Files.isDirectory(src))
            java.nio.file.Files.move(src, java.nio.file.Paths.get(tmp))
          else // expected-but-empty: commit the explicit empty block the
            // per-block path would have committed
            docs.sparkSession.createDataFrame(
              docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              partialSchema)
              .coalesce(1).write.mode("overwrite").parquet(tmp)
        }
      }
    // every block is committed (or refused by the watermark gate, which
    // leaves its staged dir behind harmlessly) — drop the staging root
    // so the store holds only `block=` dirs and maintenance sidecars
    graft.store.Store.deleteRecursivelyIfExists(staged.toString)
  }

  /** The persisted partial schema — also the explicit-schema answer
    * for a read racing the first block commit. */
  private val partialSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("tok", StringType), StructField("df", LongType),
      StructField("cf", LongType),
      StructField("topk", ArrayType(StructType(Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("id", LongType, nullable = false))),
        containsNull = false))))
  }

  /** The partial-merge fold, shared by the read path ([[merged]]) and
    * [[compact]]: counters add; bounded posting heaps union and
    * re-select through the same `graft_topk`. Associative on the heaps
    * (any member of the union's top-k is in its origin block's top-k),
    * so fold-then-fold-again — compact, then merge with newer blocks —
    * equals the one-shot fold over all blocks. Output keeps the partial
    * schema `(tok, df, cf, topk)`. */
  private def fold(blocks: DataFrame, k: Int): DataFrame = {
    val counters = blocks.groupBy("tok")
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
    val posts = blocks
      .select(col("tok"), explode(col("topk")).as("p"))
      .groupBy("tok")
      .agg(expr(s"graft_topk(p.score, p.id, $k)").as("topk"))
    // inner join is total: partialIndex asserts doc_id non-null, so
    // every (tok, df, cf) row has a non-empty heap on the posts side
    counters.join(posts, "tok")
  }

  /** The merged index over every stored block: counters add, posting
    * heaps union and re-select through the same bounded aggregate. The
    * result equals the batch index built over all blocks' documents at
    * once (IndexMVSpec asserts the equality literally). */
  def merged(spark: SparkSession, partialsPath: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    fold(graft.store.BlockStore.read(spark, partialsPath, partialSchema)
      .select("tok", "df", "cf", "topk"), k)
      .select(col("tok").as("term"), col("df"), col("cf"),
        expr("concat_ws(',', transform(topk, p -> cast(p.id AS string)))")
          .as("top_docs"))
  }

  /** Fold every block with id ≤ `throughBlockId` into ONE block,
    * bounding store growth at O(vocab × recent-blocks) — through
    * [[graft.store.BlockStore.compact]]'s crash-safe parent-level swap
    * (see there for the fold-naming and replay contract). The fold
    * re-merges through [[fold]], which is associative on the heaps, so
    * compact-then-merge equals the one-shot merge over all blocks. */
  def compact(spark: SparkSession, partialsPath: String, k: Int,
              throughBlockId: Long): Unit = {
    graft.functions.GraftFunctions.register(spark)
    graft.store.BlockStore.compact(spark, partialsPath, throughBlockId)(
      blocks => fold(blocks, k))
  }
}
