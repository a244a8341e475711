package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** S9: parameterized query execution through Spark's named-parameter SQL
  * API — the engine-side analogue of the reference's server-bound
  * `%(symbol)s` / `%(minutes)s` parameters
  * (reference: api/server.py:78,104,127,168,195). Parameters bind as
  * literals in the analyzed plan, so a bound time cutoff prunes the scan
  * exactly like the builder path's literal predicate (never a column
  * comparison), and binding is injection-safe by construction.
  *
  * The five reference endpoints are provided as SQL texts over the
  * registered `trades` view, anchored at a bound `:asof` timestamp (the
  * deterministic stand-in for `now()` — SURVEY.md §7.5-2). The DataFrame
  * builders in [[graft.queries.TradeQueries]] remain the primary,
  * oracle-checked surface; this is the SQL entry path over the same
  * semantics.
  *
  * Each request runs as ONE Spark job with one task. `trades` is served
  * from Spark's in-memory columnar cache ([[registerViews]]), and the four
  * aggregating texts filter inside a `/*+ COALESCE(1) */` subquery: a
  * one-partition coalesce reports `SinglePartition`, which already
  * satisfies both the aggregate's clustering and the ORDER BY's global
  * ordering, so the plan needs no exchange (AQE would run each shuffle
  * stage as its own job) and no range-sampling job for the sort. This
  * costs no parallelism while `trades` is one file, whose scan is one
  * task anyway; on larger inputs it keeps a request on one core.
  * `liveTradesSql` has no aggregate and runs as one job without the hint.
  */
object SqlApi {

  /** The view [[registerViews]] caches. */
  private val Snapshot = "trades"

  /** Register the corpus tables and the trades role-cast as temp views,
    * and cache `trades` as an in-memory columnar snapshot
    * (`spark.catalog.cacheTable`): requests then scan compressed
    * in-memory batches, pruned by their per-batch `ts` bounds, instead of
    * reopening and decoding parquet. The snapshot is built by the first
    * query that reads `trades`, in one extra job (the set-up request of a
    * server), and lives until [[refreshViews]] (or another registration)
    * drops it. Spark's cache manager matches plans, so while it lives any
    * `Tables.trades(spark, dir)` (without a `sinceMicros` cut) over the
    * same dir in this session reads it too. No other view is cached.
    *
    * Also installs the engine's optimizer rules: SQL-path time filters
    * over the `events` view hit the CONVERTED timestamp, and
    * [[graft.functions.NanoTsPushdownRule]] is what turns them back into
    * raw-column bounds the parquet scan can push.
    *
    * The views pin each table's FILE LISTING at registration time, and
    * the snapshot pins the trades rows at its first read (the
    * DataFrame-builder path re-lists per query) — after appending to or
    * regenerating the corpus under a live session, call [[refreshViews]]
    * alongside [[graft.Tables.invalidateAnchor]], or the SQL path reads
    * the old rows (or throws FileNotFound for replaced files). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.installRules(spark)
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
            args: Map[String, Any] = Map.empty): DataFrame =
    spark.sql(sql, args)

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
    * one-job shape of the object note. */
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
    """SELECT ts, symbol, trade_id, price, qty, is_buyer_maker
      |FROM trades
      |WHERE symbol = :symbol
      |  AND ts >= timestampadd(MINUTE, -:minutes, CAST(:asof AS TIMESTAMP))
      |ORDER BY ts DESC, trade_id DESC
      |LIMIT :limit""".stripMargin

  /** Q4 `/live_buy_sell` (reference: api/server.py:135-169) — the full
    * builder row shape (volumes, VWAPs, trade rate, total). Spark SQL
    * cannot reuse sibling SELECT aliases (SURVEY.md §7.5-3), so the
    * aggregate stage is a subquery. */
  val liveBuySellSql: String =
    s"""SELECT symbol, buy_volume, sell_volume, buy_vwap, sell_vwap, trades,
       |       trades / CAST(:minutes AS DOUBLE) AS trades_per_min,
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
