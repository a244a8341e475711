package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN-index materialized view — incremental maintenance of
  * the IVF assignment frame, closing the gap the persisted index
  * (`EmbQueries.IvfIndex`) leaves open: that index is
  * fingerprint-validated and rebuilds WHOLESALE when the corpus
  * changes, which is the wrong cost model for an embedding firehose.
  * Here new vectors become searchable per micro-batch: each batch is
  * assigned against the FROZEN coarse quantizer (the production IVF
  * discipline — train offline, assign forever; faiss `add()` vs
  * `train()`) by the real Lloyd assignment step
  * (`EmbQueries.assignCells`, the same spelling `emb_kmeans_refine`
  * trains with, so ingest and training can never drift), and only the
  * resulting `(vec_id, cell)` rows land as a `block=<id>` partition —
  * the [[IndexMV]]/[[DedupMV]] store discipline (crash-safe swap,
  * replays replace, merge-on-read, [[compact]] folds committed
  * history).
  *
  * Scale shape at 100 TB: per batch, the codebook (O(cells × dims))
  * broadcasts, distance math is map-side per-row work, the argmin is a
  * vec_id-keyed partial aggregation — O(batch), never O(index); the
  * persisted delta is two longs per vector. Search reads cell
  * membership by probing the merged blocks on the cell key — on a
  * cell-partitioned layout, partition pruning. Delivery contract, same
  * as the sibling MVs: a vector arrives in exactly one micro-batch;
  * replays replace their block. A torn replay observed mid-replace can
  * duplicate `(vec_id, cell)` rows; consumers keep set semantics by
  * construction (the registered search semi-joins membership), and
  * [[assignments]] documents rather than hides it — a distinct here
  * would shuffle the whole index on every read to launder an edge the
  * probe path is already immune to. */
object AnnMV {

  /** One batch's index delta: `(vec_id, cell)` by nearest-centroid
    * assignment against the frozen quantizer `cents = (clabel,
    * centroid)`. */
  def partialAssignments(vecs: DataFrame, cents: DataFrame): DataFrame =
    graft.queries.EmbQueries.assignCells(
      vecs.select(
        // assert on the CONSUMED column (the IndexMV discipline)
        when(assert_true(col("vec_id").isNotNull,
            lit("AnnMV: null vec_id in embedding batch")).isNull,
          col("vec_id")).as("vec_id"),
        col("label"), col("embedding")),
      cents)
      .select("vec_id", "cell")

  /** Write one batch's delta as its `block=<id>` partition, replacing
    * any previous write for that block (assignment against a frozen
    * quantizer is a pure function of the batch, so last-write-wins
    * replay is lossless). */
  def writeBlock(vecs: DataFrame, cents: DataFrame, partialsPath: String,
                 blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(partialsPath, blockId)(
      stage(vecs, cents))

  /** Stage one batch's delta into a block dir: the body of
    * [[writeBlock]] and of a [[graft.store.BlockStore.sink]]. A sink
    * resolves `cents` once, at start: the frozen-quantizer contract
    * made physical (a retrain is a new sink + [[compact]], not a
    * mutation). */
  def stage(vecs: DataFrame, cents: DataFrame)(dir: String): Unit =
    partialAssignments(vecs, cents)
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** One batch's inverted-list delta: the batch's FULL vector rows laid
    * out `cell`-partitioned — the faiss `add()` shape, where the
    * vectors live inside the inverted lists rather than beside them.
    * Complements [[partialAssignments]] (the two-longs-per-vector
    * membership delta): the assignments store answers "which cell is
    * vec 17 in", this store answers the probe's actual question —
    * "give me cell 3's vectors" — as a DIRECTORY read. `cell` is the
    * physical partition key (`partitionBy`), so an IVF probe over the
    * merged blocks is partition pruning: nprobe/cells of the files,
    * no membership join, no broadcast of a data-dependent member list
    * (the round-8 soft spot — a forced `broadcast(members)` whose size
    * is n/cells × nprobe OOMs at 100 TB). */
  def partialInverted(vecs: DataFrame, cents: DataFrame): DataFrame =
    graft.queries.EmbQueries.assignCells(
      vecs.select(
        when(assert_true(col("vec_id").isNotNull,
            lit("AnnMV: null vec_id in embedding batch")).isNull,
          col("vec_id")).as("vec_id"),
        col("label"), col("embedding")),
      cents)
      .select(col("cell"), col("vec_id"), col("orig").as("label"),
        col("embedding"))

  /** Write one batch's inverted-list delta as its `block=<id>`
    * partition with `cell` as the inner physical partition key —
    * `block=<id>/cell=<c>/…` — replacing any previous write for that
    * block (same lossless last-write-wins replay as [[writeBlock]]). */
  def writeInvertedBlock(vecs: DataFrame, cents: DataFrame,
                         invertedPath: String, blockId: Long): Unit =
    graft.store.BlockStore.writeBlock(invertedPath, blockId) { tmp =>
      partialInverted(vecs, cents)
        .repartition(col("cell")) // one file per populated cell
        .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    }

  private val invertedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType), StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", IntegerType)))
  }

  /** Merge-on-read inverted-list frame over every stored block
    * (empty-safe). `cell` resolves as a partition column, so a filter
    * on it prunes `cell=<c>` directories across ALL blocks — callers
    * rank a probed cell by reading only its files. */
  def inverted(spark: SparkSession, invertedPath: String): DataFrame =
    graft.store.BlockStore.read(spark, invertedPath, invertedSchema)
      .select("vec_id", "label", "embedding", "cell")

  /** Fold committed inverted-list blocks into one, preserving the
    * `cell` physical partitioning (the probe's prune survives
    * compaction). */
  def compactInverted(spark: SparkSession, invertedPath: String,
                      throughBlockId: Long): Unit =
    graft.store.BlockStore.compact(spark, invertedPath, throughBlockId,
      partitionCols = Seq("cell"))(
      _.select("vec_id", "label", "embedding", "cell"))

  /** Merge-on-read assignment frame over every stored block. Row-level
    * union — assignment rows are independent facts, so the merge needs
    * no aggregation at all. */
  def assignments(spark: SparkSession, partialsPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    graft.store.BlockStore.read(spark, partialsPath,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("cell", IntegerType))))
      .select("vec_id", "cell")
  }

  /** Fold every block with id ≤ `throughBlockId` into ONE block —
    * concatenation through [[graft.store.BlockStore.compact]]'s
    * crash-safe parent-level swap (see there for the fold-naming and
    * replay contract). */
  def compact(spark: SparkSession, partialsPath: String,
              throughBlockId: Long): Unit =
    graft.store.BlockStore.compact(spark, partialsPath, throughBlockId)(
      _.select("vec_id", "cell"))
}
