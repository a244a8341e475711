package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.BeforeAndAfterAll

import graft.api.SqlApi
import graft.queries.TradeQueries

/** The parameterized SQL entry path (S9): named-parameter binding returns
  * the same results as the DataFrame builders, parameters actually vary
  * the result, the bound cutoff reaches the scan as a literal filter,
  * every request runs as one job, and a refresh serves changed files. */
class SqlApiSpec extends SparkSpec with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def args(extra: (String, Any)*): Map[String, Any] =
    (extra :+ ("asof" -> SqlApi.anchor(spark, dir))).toMap

  // every suite shares one session, and the cache manager matches plans:
  // left cached, the snapshot would serve every later
  // `Tables.trades(spark, dir)` in the test JVM
  override def afterAll(): Unit =
    try spark.catalog.uncacheTable("trades") finally super.afterAll()

  /** Each endpoint's text and arguments at a lookback of `minutes`. */
  private def endpoints(minutes: Long): Seq[(String, String, Map[String, Any])] = Seq(
    ("ohlcv", SqlApi.ohlcvSql, args("symbol" -> "click", "minutes" -> minutes)),
    ("top_symbols", SqlApi.topSymbolsSql, args("minutes" -> minutes, "limit" -> 5)),
    ("live_trades", SqlApi.liveTradesSql,
      args("symbol" -> "view", "minutes" -> minutes, "limit" -> 50)),
    ("live_buy_sell", SqlApi.liveBuySellSql, args("minutes" -> minutes, "top" -> 5)),
    ("hist_buy_sell", SqlApi.histBuySellSql,
      args("symbol" -> "purchase", "minutes" -> minutes)))

  /** Spark jobs `body` launches. Status events are processed in order, so
    * once a marker job submitted after `body` is visible, every job of
    * `body` is too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"sqlapi-${java.util.UUID.randomUUID}"
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(group + "-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status store")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("ohlcv endpoint == parameterized builder") {
    SqlApi.registerViews(spark, dir)
    val viaSql = SqlApi.query(spark, SqlApi.ohlcvSql,
      args("symbol" -> "click", "minutes" -> 1440L)).collect()
    val viaBuilder = TradeQueries.ohlcv("click", 1440)(spark, dir).collect()
    assert(viaSql.length == viaBuilder.length && viaSql.nonEmpty)
    viaSql.zip(viaBuilder).foreach { case (a, b) =>
      assert(a.getTimestamp(0) == b.getTimestamp(0))
      assert(a.getDouble(1) == b.getDouble(1)) // open: exact
      assert(a.getLong(6) == b.getLong(6))     // trades: exact
      // volume: both paths use the decimal-exact order-insensitive sum,
      // so the doubles are bit-identical
      assert(a.getDouble(5) == b.getDouble(5))
    }
  }

  test("parameters vary the result (no baked-in literals)") {
    SqlApi.registerViews(spark, dir)
    val wide = SqlApi.query(spark, SqlApi.topSymbolsSql,
      args("minutes" -> 100000L, "limit" -> 10)).collect()
    val narrow = SqlApi.query(spark, SqlApi.topSymbolsSql,
      args("minutes" -> 60L, "limit" -> 10)).collect()
    val capped = SqlApi.query(spark, SqlApi.topSymbolsSql,
      args("minutes" -> 100000L, "limit" -> 2)).collect()
    assert(wide.length > capped.length)
    assert(capped.length == 2)
    val wideTrades = wide.map(_.getLong(2)).sum
    val narrowTrades = narrow.map(_.getLong(2)).sum
    assert(narrowTrades < wideTrades)
  }

  test("bound time cutoff reaches the cached trades scan as a literal predicate") {
    SqlApi.registerViews(spark, dir)
    val df = SqlApi.query(spark, SqlApi.liveTradesSql,
      args("symbol" -> "view", "minutes" -> 240L, "limit" -> 500))
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s
    }
    assert(scans.size == 1, s"expected one in-memory scan of trades: $scans")
    // the filter must compare against a resolved literal, not a column
    // (the round-1 anchor-cross-join scale-killer)
    assert(scans.head.predicates.exists {
      case GreaterThanOrEqual(a: Attribute, _: Literal) => a.name == "ts"
      case _ => false
    }, s"no `ts >= <literal>` among the scan's predicates: ${scans.head.predicates}")
  }

  test("bound cutoff over the events view lands in the scan as a pushed literal filter") {
    SqlApi.registerViews(spark, dir)
    val df = SqlApi.query(spark,
      """SELECT event_id FROM events
        |WHERE ts >= timestampadd(MINUTE, -:minutes, CAST(:asof AS TIMESTAMP))""".stripMargin,
      args("minutes" -> 240L))
    val physical = df.queryExecution.executedPlan.toString
    // the filter must compare against a resolved literal, not a column;
    // NanoTsPushdownRule turns the converted-ts bound into a raw one
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("GreaterThanOrEqual(ts,"))
  }

  test("every endpoint request runs as one Spark job with no exchange") {
    SqlApi.registerViews(spark, dir)
    // the first read of a fresh snapshot builds it (under AQE, in a job of
    // its own); requests are counted against a built one
    spark.table("trades").collect()
    for (minutes <- Seq(60L, 43200L); (name, sql, a) <- endpoints(minutes)) {
      val df = SqlApi.query(spark, sql, a)
      val jobs = jobsOf(df.collect())
      assert(jobs == 1, s"$name at $minutes min launched $jobs jobs")
      val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: Exchange => e
      }
      assert(exchanges.isEmpty, s"$name at $minutes min planned an exchange: $exchanges")
    }
  }

  test("refreshViews serves the rows of a corpus changed under the session") {
    import java.nio.file.{Files, Paths}
    val tmp = tmpDir("sqlapi-refresh")
    val events = Paths.get(dir, "events.parquet")
    val rows = spark.read.parquet(events.toString).count()
    def tradesInWindow(): Long = SqlApi.query(spark, SqlApi.topSymbolsSql,
      Map("minutes" -> 1000000L, "limit" -> 100,
        "asof" -> SqlApi.anchor(spark, tmp))).collect().map(_.getLong(2)).sum

    Tables.corpusTables.foreach(n =>
      Files.copy(Paths.get(dir, s"$n.parquet"), Paths.get(tmp, s"$n.parquet")))
    SqlApi.registerViews(spark, tmp)
    assert(tradesInWindow() == rows)

    // same path and schema, twice the rows: the new view's plan equals the
    // cached one, so only dropping the snapshot can show the new rows
    val replaced = Files.createDirectory(Paths.get(tmp, "events.parquet.new"))
    Seq("a", "b").foreach(p => Files.copy(events, replaced.resolve(s"$p.parquet")))
    Files.delete(Paths.get(tmp, "events.parquet"))
    Files.move(replaced, Paths.get(tmp, "events.parquet"))
    Tables.invalidateAnchor(tmp)
    SqlApi.refreshViews(spark, tmp)
    assert(tradesInWindow() == 2 * rows, "the API served a stale trades snapshot")
  }

  test("buy/sell endpoints match the builders' row shape AND values") {
    SqlApi.registerViews(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val sqlQ4 = SqlApi.query(spark, SqlApi.liveBuySellSql,
      args("minutes" -> 1440L, "top" -> 5))
    val builderQ4 = TradeQueries.liveBuySellFor(1440, 5)(spark, dir)
    assert(sqlQ4.columns.toSeq == builderQ4.columns.toSeq,
      "Q4 column shape diverged from the builder endpoint")
    assert(rows(sqlQ4) == rows(builderQ4) && rows(sqlQ4).nonEmpty)
    val sqlQ5 = SqlApi.query(spark, SqlApi.histBuySellSql,
      args("symbol" -> "purchase", "minutes" -> 2880L))
    val builderQ5 = TradeQueries.histBuySellFor("purchase", 2880)(spark, dir)
    assert(sqlQ5.columns.toSeq == builderQ5.columns.toSeq,
      "Q5 column shape diverged from the builder endpoint")
    assert(rows(sqlQ5) == rows(builderQ5) && rows(sqlQ5).nonEmpty)
  }

  test("live_trades carries the full builder row shape incl. trade_id") {
    SqlApi.registerViews(spark, dir)
    val q3 = SqlApi.query(spark, SqlApi.liveTradesSql,
      args("symbol" -> "view", "minutes" -> 240L, "limit" -> 500))
    assert(q3.columns.toSeq ==
      Seq("ts", "symbol", "trade_id", "price", "qty", "is_buyer_maker"))
    assert(q3.collect().nonEmpty)
  }
}
