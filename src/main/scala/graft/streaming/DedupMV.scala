package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-duplicate index materialized view — incremental
  * maintenance of the MinHash-LSH band index the batch
  * `docs_minhash_pairs` query builds, in the store's established MV
  * discipline ([[IndexMV]]/[[HistogramMV]]: per-batch partial blocks,
  * merge-on-read, replays REPLACE their block through the crash-safe
  * swap). This is the ingest-time half of the corpus-dedup story: the
  * batch path (COVERAGE.md "dedup-before-pair-generation") dedups a
  * corpus you already paid to store; this MV lets ingest flag a new
  * document against everything that came before WITHOUT re-reading any
  * of it.
  *
  * The split that makes it work: the LSH chain is per-document up to
  * the band buckets (tokenize → shingle → hash → 8 minhash perms → 4
  * band keys — `DocQueries.minhashBands`, no cross-document state at
  * all), so each micro-batch computes its own docs' bands ONCE, at
  * ingest, and persists just `(doc_id, band, bucket)` — three small
  * columns, 4 rows per doc, regardless of document size. All
  * cross-document work (bucket grouping, in-bucket pair generation)
  * happens at read time over those compact partials via the SAME
  * `DocQueries.bandPairs` the batch query executes, so merged
  * candidates are *definitionally* the batch candidates over the union
  * corpus (DedupMVSpec asserts it literally; the registered
  * `docs_minhash_pairs_mv` query hash-matches the batch oracle through
  * this lineage).
  *
  * Delivery contract, same as [[IndexMV]]: **a document arrives whole,
  * in exactly one micro-batch** (append-only corpus feed). A replayed
  * batch replaces its `block=<id>` dir losslessly; `candidates` also
  * distincts on (doc_id, band, bucket) so even a torn replay observed
  * mid-replace cannot fabricate pairs.
  *
  * Scale shape at 100 TB: the persisted index is O(4·n_docs) fixed-width
  * rows — for a billion-doc corpus ~130 GB, vs the corpus' tens of TB of
  * text; the candidate read shuffles only those rows, keyed by (band,
  * bucket), and bucket membership (the LSH design parameter) bounds
  * every group. The text-heavy verification step is deliberately NOT in
  * the MV: candidates are a tiny, data-dependent set, and the readback
  * query fetches shingles for exactly the docs appearing in candidate
  * pairs (a semi-join prune before any tokenization — see
  * `docs_minhash_pairs_mv`), never the corpus. Store growth is
  * O(batch-docs · 4) per block until [[compact]] folds committed blocks
  * into one. Retention: [[graft.store.BlockStore.expire]] retires
  * whole blocks under a persisted watermark (the reference's 90-day
  * TTL applied MV-side) — appropriate here because a band row's only
  * referent is its source document; expiring the docs' blocks expires
  * their index rows with them, and a replayed expired block cannot
  * resurrect (the watermark gates `writeBlock`). */
object DedupMV {

  /** One batch's index partial: `(doc_id, band, bucket)` for this
    * batch's documents — THE batch lineage (`minhashBands ∘
    * shingleFrame`), so streaming and batch signatures can never
    * drift. Short docs (< 3 tokens) have no shingles and no bands;
    * they can never near-dup under this blocking and simply don't
    * appear in the index. */
  def partialBands(docs: DataFrame): DataFrame =
    graft.queries.DocQueries.minhashBands(
      graft.queries.DocQueries.shingleFrame(docs.select(
        // assert on the CONSUMED column, the IndexMV discipline: a
        // dropped assert-only column would be pruned out of the plan
        when(assert_true(col("doc_id").isNotNull,
            lit("DedupMV: null doc_id in corpus batch")).isNull,
          col("doc_id")).as("doc_id"),
        col("text"))))

  /** Write one batch's partial as its `block=<id>` partition, replacing
    * any previous write for that block (at-least-once replays REPLACE —
    * a batch's bands are a pure function of its docs, so
    * last-write-wins is lossless). */
  def writeBlock(docs: DataFrame, partialsPath: String,
                 blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId)(stage(docs))

  /** Stage one batch's bands into a block dir: the body of
    * [[writeBlock]] and of a [[graft.store.BlockStore.sink]]. */
  def stage(docs: DataFrame)(dir: String): Unit =
    partialBands(docs)
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** The persisted partial schema — also the explicit-schema answer for
    * a read racing the first block commit (empty frame, not an
    * inference error). */
  private val bandsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        "band", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField(
        "bucket", org.apache.spark.sql.types.StringType)))

  /** Merge-on-read band frame over every stored block (empty-safe). */
  def bands(spark: SparkSession, partialsPath: String): DataFrame =
    graft.store.BlockStore.read(spark, partialsPath, bandsSchema)
      .select("doc_id", "band", "bucket")

  /** Merge-on-read candidate pairs over every stored block: union the
    * band partials and run the SAME bucket-local pair generator as the
    * batch query (`dedupBands` guards the torn-replay edge). Equals
    * `minhashCandPairs` over all delivered documents at once. */
  def candidates(spark: SparkSession, partialsPath: String): DataFrame =
    graft.queries.DocQueries.bandPairs(
      bands(spark, partialsPath), dedupBands = true)

  /** Probe-side dedup decision for a NEW batch of documents against the
    * persisted index, without touching any stored document: compute the
    * batch's bands (per-doc work only), inner-join on (band, bucket)
    * against the index partials, and return `(doc_id, dup_of)` where
    * `dup_of` is the smallest already-indexed doc sharing a bucket —
    * first-seen-wins, the keyed-LWW discipline. This is the O(new)
    * ingest gate: index rows are fetched by bucket key, so the join's
    * build side is candidate-buckets-sized, never index-sized.
    * Callers verify survivors (exact Jaccard) before acting — bucket
    * collision is a candidate, not a verdict. */
  def probe(spark: SparkSession, partialsPath: String,
            newDocs: DataFrame): DataFrame =
    probeCandidates(spark, partialsPath, newDocs)
      .groupBy("doc_id")
      .agg(min(col("seen_id")).as("dup_of"))

  /** The pre-verification fan-out behind [[probe]]: distinct `(doc_id,
    * seen_id)` candidate pairs — every already-indexed doc sharing an
    * LSH bucket with a new-batch doc. Exposed separately so a caller
    * can verify EACH candidate by exact Jaccard and then pick the
    * smallest VERIFIED seen_id (the `docs_ingest_dedup_gate`
    * discipline) instead of verifying only the blind minimum —
    * a chance bucket collision with a low id must not shadow a true
    * duplicate behind it. Work is candidate-sized: index rows are
    * fetched by bucket key, never scanned. */
  def probeCandidates(spark: SparkSession, partialsPath: String,
                      newDocs: DataFrame): DataFrame =
    probeCandidatesFromBands(spark, partialsPath, partialBands(newDocs))

  /** [[probeCandidates]] over a PRE-computed band frame — so an ingest
    * loop that both probes and indexes a batch (the
    * `docs_ingest_dedup_gate` shape) tokenizes/minhashes each doc
    * exactly once, reusing the same frame for the probe and (filtered
    * to survivors) the [[writeBandsBlock]]. */
  def probeCandidatesFromBands(spark: SparkSession, partialsPath: String,
                               newBands: DataFrame): DataFrame = {
    val index = bands(spark, partialsPath)
      .select(col("band"), col("bucket"), col("doc_id").as("seen_id"))
    newBands
      .join(index, Seq("band", "bucket"))
      .where(col("seen_id") =!= col("doc_id"))
      .select("doc_id", "seen_id")
      .distinct()
  }

  /** [[writeBlock]] from a pre-computed band frame (same replay
    * contract); pairs with [[probeCandidatesFromBands]]. */
  def writeBandsBlock(newBands: DataFrame, partialsPath: String,
                      blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId) { tmp =>
      newBands.select("doc_id", "band", "bucket")
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Fold every block with id ≤ `throughBlockId` into ONE block. Bands
    * are plain rows (no aggregation state), so the fold is a
    * concatenation — through [[graft.store.BlockStore.compact]]'s
    * crash-safe parent-level swap (see there for the fold-naming and
    * replay contract). */
  def compact(spark: SparkSession, partialsPath: String,
              throughBlockId: Long): Unit =
    graft.store.BlockStore.compact(spark, partialsPath, throughBlockId)(
      _.select("doc_id", "band", "bucket"))
}
