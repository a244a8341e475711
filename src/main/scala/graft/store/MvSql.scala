package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, StringType}

/** SQL surface for the streaming-MV block stores — the [[ZonedSql]]
  * treatment applied to the MV families, so every merge-on-read path is
  * addressable from `spark.sql` exactly like `graft_zoned_trades`:
  *
  * {{{
  *   SELECT * FROM graft_mv_read('/path/to/partials', 'index', 5)
  *   SELECT * FROM graft_mv_read('/path/to/partials', 'dedup_candidates')
  *   SELECT * FROM graft_mv_read('/path/to/partials', 'ann_inverted')
  * }}}
  *
  * `kind` selects the family and resolves to the SAME plan the Scala
  * readback builds — one readback implementation per family, two entry
  * spellings:
  *
  *  - `'index'` → [[graft.streaming.IndexMV.merged]] `(term, df, cf,
  *    top_docs)`; the optional third argument is the posting-heap bound
  *    `k` (default 5) and MUST match the k the sink wrote with — the
  *    merge re-selects top-k over the union of per-block heaps, so a
  *    larger read-side k cannot invent postings the blocks never kept.
  *  - `'dedup_bands'` → [[graft.streaming.DedupMV.bands]] `(doc_id,
  *    band, bucket)` — the raw LSH band index.
  *  - `'dedup_candidates'` → [[graft.streaming.DedupMV.candidates]]
  *    `(doc_a, doc_b)` — in-bucket candidate pairs over all blocks.
  *  - `'ann_assignments'` → [[graft.streaming.AnnMV.assignments]]
  *    `(vec_id, cell)` — the IVF membership delta rows.
  *  - `'ann_inverted'` → [[graft.streaming.AnnMV.inverted]] `(vec_id,
  *    label, embedding, cell)` — the cell-partitioned inverted lists; a
  *    `WHERE cell = …` on the result partition-prunes the files read,
  *    same as the Scala probe path.
  *  - `'histogram'` → [[graft.streaming.HistogramMV.merged]] `(key, k,
  *    cnt)` — merged equi-width histogram counters. The optional third
  *    argument is the key column's DDL type (default `'string'`): a
  *    non-string-keyed family passes it — `graft_mv_read(path,
  *    'histogram', 'bigint')` — so a probe BEFORE the family's first
  *    block commit carries the same key type as every later read
  *    (the Scala readback's `keyType` contract, SQL spelling).
  *  - `'candles'` → [[graft.streaming.CandlePipeline.readCandles]] over
  *    the partial-candle block store `(minute, symbol, open, high, low,
  *    close, volume, trades)` — the reference's `SELECT * FROM
  *    trades_1m` readback as a table function.
  *
  * All reads are empty-safe ([[BlockStore.read]]: a store probed before
  * its first block commit yields an empty frame, not an inference
  * error) and watermark-filtered (expired blocks stay unreadable).
  *
  * Plan lifetime caveat: the block listing resolves at SQL ANALYSIS
  * time ([[BlockStore.read]] lists the live dirs eagerly inside the
  * builder), so each `spark.sql` call re-analyzes the store and pins
  * the concrete `block=` paths it saw. A CACHED plan — a registered
  * temp view, a reused DataFrame, a plan-cache hit — does NOT survive
  * maintenance: executing it after [[BlockStore.compact]]/
  * [[BlockStore.expire]] rewrote the root fails on the vanished paths
  * (or, mid-swap, reads the pre-swap listing). Identical behavior to
  * the Scala readbacks, stated here because SQL spellings are the ones
  * users cache and reuse: re-issue the `graft_mv_read` query after
  * maintenance rather than holding its frame across it.
  * Registered by [[graft.functions.GraftFunctions.register]] next to
  * `graft_zoned_trades`. */
object MvSql {

  val identifier: FunctionIdentifier = FunctionIdentifier("graft_mv_read")

  val info: ExpressionInfo = new ExpressionInfo(
    BlockStore.getClass.getName, "graft_mv_read")

  /** The valid `kind` arguments, in the error message's order. */
  val kinds: Seq[String] = Seq("index", "dedup_bands", "dedup_candidates",
    "ann_assignments", "ann_inverted", "histogram", "candles")

  /** The candle partials' schema, `block` included — the empty-store
    * answer for the `'candles'` kind. DERIVED from the authoritative
    * write lineage — `partialCandles` over an empty typed trades frame,
    * schema-only, no job — so a change to
    * [[graft.ops.Ops.ohlcvPartialAggs]] or the decimal width can never
    * silently diverge the probed-before-first-commit read. */
  private def candlePartialSchema(
      spark: SparkSession): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val trades = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("ts", TimestampType), StructField("symbol", StringType),
        StructField("price", DoubleType), StructField("qty", DoubleType))))
    graft.streaming.CandlePipeline.partialCandles(trades, 0L).schema
  }

  val builder: Seq[Expression] => LogicalPlan = { children =>
    require(children.length == 2 || children.length == 3,
      "graft_mv_read expects (path, kind), (path, 'index', k) or " +
        s"(path, 'histogram', keyType), got ${children.length} arguments")
    def str(i: Int, name: String): String = children(i) match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_mv_read: $name must be a string literal, got $other")
    }
    val path = str(0, "path")
    val kind = str(1, "kind")
    // the optional third argument is kind-typed: 'index' takes the
    // integer posting-heap bound k; 'histogram' takes the key column's
    // DDL type name so a non-string-keyed family probed via SQL before
    // its first commit gets the SAME schema as every post-commit read
    // (the HistogramMV.merged keyType contract, SQL spelling)
    val k: Option[Int] = children.lift(2).flatMap {
      case Literal(v: Int, IntegerType) if kind == "index" => Some(v)
      case Literal(_, StringType) if kind == "histogram" => None
      case other => throw new IllegalArgumentException(
        "graft_mv_read: the third argument is k (integer) for kind " +
          "'index' or keyType (string DDL) for kind 'histogram', got " +
          s"$other for kind '$kind'")
    }
    val keyType: Option[org.apache.spark.sql.types.DataType] =
      if (kind == "histogram" && children.length == 3)
        Some(org.apache.spark.sql.types.DataType.fromDDL(str(2, "keyType")))
      else None
    val spark = SparkSession.active
    val df = kind match {
      case "index" =>
        graft.streaming.IndexMV.merged(spark, path, k.getOrElse(5))
      case "dedup_bands" =>
        graft.streaming.DedupMV.bands(spark, path)
      case "dedup_candidates" =>
        graft.streaming.DedupMV.candidates(spark, path)
      case "ann_assignments" =>
        graft.streaming.AnnMV.assignments(spark, path)
      case "ann_inverted" =>
        graft.streaming.AnnMV.inverted(spark, path)
      case "histogram" =>
        graft.streaming.HistogramMV.merged(spark, path,
          keyType.getOrElse(StringType))
      case "candles" =>
        graft.streaming.CandlePipeline.readCandles(
          BlockStore.read(spark, path, candlePartialSchema(spark)))
      case other => throw new IllegalArgumentException(
        s"graft_mv_read: unknown kind '$other' — expected one of " +
          kinds.mkString("'", "', '", "'"))
    }
    df.queryExecution.logical
  }

  def injection: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (identifier, info, builder)
}
