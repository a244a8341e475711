package graft.api

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.DataType

import graft.Tables

/** S9: parameterized query execution — the engine-side analogue of the
  * reference's server-bound `%(symbol)s` / `%(minutes)s` parameters
  * (reference: api/server.py:78,104,127,168,195). Binding is
  * injection-safe by construction: a value never becomes SQL text.
  *
  * The five reference endpoints are provided as SQL texts over the
  * registered `trades` view, anchored at a bound `:asof` timestamp (the
  * deterministic stand-in for `now()` — SURVEY.md §7.5-2). The DataFrame
  * builders in [[graft.queries.TradeQueries]] remain the primary,
  * oracle-checked surface; this is the SQL entry path over the same
  * semantics.
  *
  * Prepared endpoints. An endpoint text is parsed, analyzed, optimized,
  * planned, compiled, built into one RDD and serialized as that RDD's
  * task binary once per registration ([[registerViews]]) and `LIMIT`
  * value, on its first request ([[Prepared]]). What is bound where:
  *  - `:symbol`, `:minutes` and `:asof` enter the plan as
  *    [[graft.functions.RequestParam]] leaves, which no rule folds. Once
  *    planned, each subexpression of parameters only (`:symbol`, the
  *    cutoff `timestampadd(MINUTE, -:minutes, :asof)`) becomes one
  *    numbered [[graft.functions.RequestSlot]]. A request evaluates each
  *    slot's value once on the driver and hands it to its task as a
  *    local property of its thread; generated code decodes it once per
  *    task. So every request runs the same RDD, and its classes, which
  *    were compiled when the endpoint was prepared.
  *  - In the predicates of the in-memory `trades` scan a slot is a
  *    [[graft.functions.SlotLiteral]]: the scan prunes cached batches on
  *    `ts >= <literal>` only, never on an expression. It evaluates that
  *    pruning predicate inside each task, where the literal reads its
  *    slot.
  *  - `:limit` / `:top` are bound as literals at analysis: a LIMIT must be
  *    a constant there, and it decides the plan (a top-k
  *    `TakeOrderedAndProject` keeps that many rows). So each LIMIT value,
  *    with the text and the parameter types, keys its own prepared plan.
  * [[Results.toJsonRows]] runs a request's task over the prepared RDD,
  * whose plan holds the JSON rendering in its projection, outside any SQL
  * execution: no analysis, optimization, plan copy, codegen, adaptive
  * wrapper or Spark job per request. [[query]]'s DataFrame is a [[PreparedRequest]]
  * leaf that plans onto the prepared rows with the slot values bound as
  * plain literals, so any other use of it keeps working; but that use
  * (`collect`, `show`, a join over the leaf) compiles new classes for
  * each distinct cutoff or symbol, since a plain literal is inlined into
  * the generated source. Only [[Results.toJsonRows]] is compile-free per
  * request. Other texts, and
  * requests before a registration, run through `spark.sql`.
  *
  * Each request runs as ONE task, on the calling thread, the way an
  * executor runs a task ([[org.apache.spark.sql.GraftBridge.runTask]]):
  * no job, stage, scheduler round trip, task-binary broadcast or result
  * serialization. It reads the snapshot's blocks from this JVM's block
  * manager, which holds them because the engine's sessions are all local
  * (`graft.Session.builder`). Its metrics reach the prepared plan's SQL
  * metrics, but no listener sees the task. `trades` is served
  * from Spark's in-memory columnar cache ([[registerViews]]), and every
  * text filters inside a `/*+ COALESCE(1) */` subquery: a one-partition
  * coalesce reports `SinglePartition`, which already satisfies both an
  * aggregate's clustering and the ORDER BY's global
  * ordering, so the plan needs no exchange (a prepared RDD must not
  * shuffle, and must be one partition) and no range-sampling job for the
  * sort. The [[query]] DataFrame path is an ordinary job, and under
  * AQE each shuffle stage would be a job of its own there. This
  * costs no parallelism while `trades` is one file, whose scan is one
  * task anyway; on larger inputs it keeps a request on one core.
  * `liveTradesSql` has no aggregate, but over more than one partition its
  * top-k would shuffle the partitions' candidates together, and a
  * prepared RDD must not shuffle.
  */
object SqlApi {

  /** The view [[registerViews]] caches. */
  private val Snapshot = "trades"

  /** What a request's endpoint is prepared for: its text, the types of
    * its parameters, and its LIMIT values. */
  private final case class Key(sql: String, types: Map[String, DataType],
                               limits: Map[String, Literal])

  /** Each session's prepared endpoints, dropped with its snapshot. */
  private val prepared =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[Key, Prepared]]()

  /** Register the corpus tables and the trades role-cast as temp views,
    * and cache `trades` as an in-memory columnar snapshot
    * (`spark.catalog.cacheTable`): requests then scan compressed
    * in-memory batches, pruned by their per-batch `ts` bounds, instead of
    * reopening and decoding parquet. The snapshot is built here, so no
    * request builds it (under AQE the [[query]] DataFrame path would
    * build an unbuilt cache in a job of its own), and it lives
    * until [[refreshViews]] (or another registration) drops it together
    * with the session's prepared endpoints. Spark's cache manager matches
    * plans, so while it lives any `Tables.trades(spark, dir)` (without a
    * `sinceMicros` cut) over the same dir in this session reads it too.
    * No other view is cached.
    *
    * Also installs the engine's optimizer rules: SQL-path time filters
    * over the `events` view hit the CONVERTED timestamp, and
    * [[graft.functions.NanoTsPushdownRule]] is what turns them back into
    * raw-column bounds the parquet scan can push.
    *
    * The views pin each table's FILE LISTING at registration time, and
    * the snapshot and the prepared endpoints pin the trades rows here (the
    * DataFrame-builder path re-lists per query) — after appending to or
    * regenerating the corpus under a live session, call [[refreshViews]]
    * alongside [[graft.Tables.invalidateAnchor]], or the SQL path reads
    * the old rows (or throws FileNotFound for replaced files). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.installRules(spark)
    prepared.remove(spark)
    // drop the old snapshot first: the cache manager matches a new
    // registration over the same paths to the old plan and would keep
    // serving the old rows
    if (spark.catalog.tableExists(Snapshot)) spark.catalog.uncacheTable(Snapshot)
    Tables.corpusTables.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir)
               else Tables.table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    Tables.trades(spark, dir).createOrReplaceTempView(Snapshot)
    spark.catalog.cacheTable(Snapshot)
    // build it now: under AQE, the first request to read an unbuilt cache
    // would build it in a job of its own
    spark.table(Snapshot).count()
    if (!spark.experimental.extraStrategies.contains(PreparedRequestStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PreparedRequestStrategy
    prepared.keySet.removeIf(_.sparkContext.isStopped)
    prepared.put(spark, new ConcurrentHashMap[Key, Prepared]())
  }

  /** Drop the `trades` snapshot and re-resolve every registered view's
    * file listing after the corpus changed on disk — [[registerViews]]'s
    * note. Re-registration (vs `spark.catalog.refreshTable`) also picks
    * up a changed events timestamp PHYSICAL type, which alters the view's
    * analyzed plan, not just its file index. */
  def refreshViews(spark: SparkSession, dir: String): Unit =
    registerViews(spark, dir)

  /** Execute SQL with named parameters (`:name`). */
  def query(spark: SparkSession, sql: String,
            args: Map[String, Any] = Map.empty): DataFrame = {
    val endpoints = prepared.get(spark)
    endpointParameters.get(sql) match {
      case Some((names, limitNames)) if endpoints != null &&
          names.forall(n => args.get(n).exists(_ != null)) =>
        val values = names.iterator.map(n => n -> Literal(args(n))).toMap
        val (limits, bound) = values.partition { case (n, _) => limitNames(n) }
        val key = Key(sql, values.map { case (n, l) => n -> l.dataType }, limits)
        endpoints.computeIfAbsent(key, k => Prepared(spark, sql, k.types, limits))
          .request(bound.map { case (n, l) => n -> l.value })
      case _ => spark.sql(sql, args)
    }
  }

  /** Each endpoint text's parameter names, and those of its LIMIT. */
  private lazy val endpointParameters: Map[String, (Set[String], Set[String])] =
    Seq(ohlcvSql, topSymbolsSql, liveTradesSql, liveBuySellSql, histBuySellSql)
      .map(sql => sql -> Prepared.parameters(sql)).toMap

  /** The deterministic `:asof` anchor for a corpus dir, at FULL micro
    * precision — the corpus timestamps are not millisecond-aligned, so a
    * ms-truncated anchor would shift every window cutoff up to 999 µs
    * from the builder path's. */
  def anchor(spark: SparkSession, dir: String): java.sql.Timestamp =
    Tables.microsToTimestamp(Tables.anchorMicros(spark, dir))

  /** Spark-SQL rendering of the engine's order-insensitive decimal-exact
    * sum — the SAME formula as the DuckDB oracles', single-sourced in
    * [[graft.queries.Sql.dsum]] (only the string-type spelling differs
    * per dialect), so the SQL endpoints and the oracle twins cannot
    * drift apart. A plain `sum(double)` would vary with partition merge
    * order run to run. */
  private def dsum(e: String): String =
    graft.queries.Sql.dsum(e, graft.queries.Sql.SparkStr)

  /** [[dsum]] with ClickHouse sumIf empty-set-is-0 semantics. */
  private def dsumIf(e: String, cond: String): String =
    graft.queries.Sql.sumIf(e, cond, graft.queries.Sql.SparkStr)

  /** Spark-SQL rendering of the shared VWAP formula. */
  private def vwap(cond: String): String =
    graft.queries.Sql.vwap("price", "qty", cond, graft.queries.Sql.SparkStr)

  /** The `trades` rows of a request's lookback window (and `pred`, an
    * extra conjunct ending in `AND `), coalesced to one partition — the
    * one-task shape of the object note. */
  private def lookback(pred: String = ""): String =
    s"""(SELECT /*+ COALESCE(1) */ * FROM trades
       |  WHERE ${pred}ts >= timestampadd(MINUTE, -:minutes, CAST(:asof AS TIMESTAMP)))""".stripMargin

  /** Q1 `/ohlcv` (reference: api/server.py:57-84) — the SAME candle
    * select list the oracles use ([[graft.queries.Sql.ohlcvSelect]]),
    * in the Spark string-type spelling. */
  val ohlcvSql: String =
    s"""SELECT date_trunc('minute', ts) AS minute,
       |       ${graft.queries.Sql.ohlcvSelect(graft.queries.Sql.SparkStr)}
       |FROM ${lookback("symbol = :symbol AND ")}
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Q2 `/top_symbols` (reference: api/server.py:87-105). */
  val topSymbolsSql: String =
    s"""SELECT symbol, ${dsum("qty")} AS volume, count(*) AS trades
       |FROM ${lookback()}
       |GROUP BY 1
       |ORDER BY volume DESC, symbol
       |LIMIT :limit""".stripMargin

  /** Q3 `/live_trades` (reference: api/server.py:108-132) — same row
    * shape as the builder twin (`trade_id` included: reference line 116
    * returns it and the tie-broken ordering exposes it). */
  val liveTradesSql: String =
    s"""SELECT ts, symbol, trade_id, price, qty, is_buyer_maker
       |FROM ${lookback("symbol = :symbol AND ")}
       |ORDER BY ts DESC, trade_id DESC
       |LIMIT :limit""".stripMargin

  /** Q4 `/live_buy_sell` (reference: api/server.py:135-169) — the full
    * builder row shape (volumes, VWAPs, trade rate, total). Spark SQL
    * cannot reuse sibling SELECT aliases (SURVEY.md §7.5-3), so the
    * aggregate stage is a subquery. The rate is null at `:minutes` = 0
    * (ClickHouse would return `inf`), like the builder's. */
  val liveBuySellSql: String =
    s"""SELECT symbol, buy_volume, sell_volume, buy_vwap, sell_vwap, trades,
       |       trades / nullif(CAST(:minutes AS DOUBLE), 0.0) AS trades_per_min,
       |       buy_volume + sell_volume AS total_volume
       |FROM (
       |  SELECT symbol,
       |         ${dsumIf("qty", "is_buyer_maker = 0")} AS buy_volume,
       |         ${dsumIf("qty", "is_buyer_maker = 1")} AS sell_volume,
       |         ${vwap("is_buyer_maker = 0")} AS buy_vwap,
       |         ${vwap("is_buyer_maker = 1")} AS sell_vwap,
       |         count(*) AS trades
       |  FROM ${lookback()}
       |  GROUP BY 1)
       |ORDER BY total_volume DESC, symbol
       |LIMIT :top""".stripMargin

  /** Q5 `/hist_buy_sell` (reference: api/server.py:172-200) — full
    * builder row shape including the per-minute VWAPs. */
  val histBuySellSql: String =
    s"""SELECT date_trunc('minute', ts) AS minute,
       |       ${dsumIf("qty", "is_buyer_maker = 0")} AS buy_volume,
       |       ${dsumIf("qty", "is_buyer_maker = 1")} AS sell_volume,
       |       ${vwap("is_buyer_maker = 0")} AS buy_vwap,
       |       ${vwap("is_buyer_maker = 1")} AS sell_vwap,
       |       count(*) AS trades
       |FROM ${lookback("symbol = :symbol AND ")}
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
}
