package graft

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.math.BigDecimal.RoundingMode
import scala.math.Ordering.Double.TotalOrdering

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll

import graft.api.{Results, SqlApi}
import graft.queries.TradeQueries

/** The five API endpoints against a brute-force reference: over seeded
  * generated trades corpora, the prepared SQL path (`SqlApi.query` +
  * `Results.toJsonRows`) and the `TradeQueries` builders must both reply
  * what a plain-Scala evaluation of the reference's queries
  * (api/server.py:57-200) replies, for lookbacks N of 0, 1, 59, 60, 1440
  * and 43,200 minutes.
  *
  * Every corpus holds a trade exactly at each cutoff `asof − N min` and
  * one a microsecond before it, trades on both sides of minute
  * boundaries, timestamp ties inside a minute, ties at the `LIMIT` cut
  * (equal timestamps for `live_trades`, a symbol whose trades copy
  * another's for `top_symbols` and `live_buy_sell`), and symbols whose
  * window is empty. Sums follow the engine's decimal-exact formula, so
  * every double must be bit-identical. `open`/`close` at a timestamp tie
  * may be any tied trade's price: `min_by`/`max_by`, like the
  * reference's `argMin`/`argMax`, leave the tie order unspecified. At
  * N = 0 `live_buy_sell`'s `trades_per_min` is null on both paths, as
  * a VWAP is on zero volume. Seeded, so a failure replays. */
class ApiReferenceSpec extends SparkSpec with BeforeAndAfterAll {

  override def afterAll(): Unit =
    try spark.catalog.uncacheTable("trades") finally super.afterAll()

  private val Min = 60000000L
  private val Lookbacks = Seq(0L, 1L, 59L, 60L, 1440L, 43200L)
  private val Symbols = Vector("a", "b", "c", "d")

  private case class Trade(id: Long, symbol: String, price: Double, ts: Long) {
    def qty: Double = math.abs(price) / 1000.0
    def buyerMaker: Int = (id % 2).toInt
  }

  private case class Corpus(anchor: Long, trades: Seq[Trade], topLimit: Int,
                            liveLimit: Int) {
    override def toString: String =
      s"Corpus(${trades.size} trades, anchor $anchor, LIMIT $topLimit/$liveLimit)"
  }

  private val corpusGen: Gen[Corpus] = for {
    anchor <- Gen.choose(0L, Min - 1).map(1700000000L * 1000000L + _)
    random <- Gen.listOfN(30, Gen.choose(anchor - 43201 * Min, anchor))
    edgeMinutes <- Gen.listOfN(4, Gen.choose(1L, 43200L))
    tieSources <- Gen.listOfN(6, Gen.choose(0, 29))
    copies <- Gen.listOfN(6, Gen.choose(1, 3))
    // every cutoff gets a trade on it and one just outside it; minute
    // edges get a trade on each side; the anchor itself is the max ts
    spots = Seq(anchor) ++ Lookbacks.flatMap(n => Seq(anchor - n * Min, anchor - n * Min - 1)) ++
      edgeMinutes.flatMap { m =>
        val edge = Math.floorDiv(anchor, Min) * Min - m * Min
        Seq(edge, edge - 1)
      } ++ random
    tied = tieSources.zip(copies).flatMap { case (i, k) => Seq.fill(k)(random(i)) } ++
      Seq.fill(2)(anchor)
    stamps = spots ++ tied
    symbols <- Gen.listOfN(stamps.size, Gen.oneOf(Symbols.take(3)))
    cents <- Gen.listOfN(stamps.size, Gen.frequency(9 -> Gen.choose(1, 500000),
      1 -> Gen.choose(-500000, -1)))
    parity <- Gen.listOfN(stamps.size, Gen.choose(0, 1))
    shuffle <- Gen.long
    // the last symbol copies another's trades (same prices, times and
    // id parity): equal volumes at the LIMIT cut of the symbol rankings
    copied <- Gen.oneOf(Symbols.take(3))
    topLimit <- Gen.choose(1, 3)
    liveLimit <- Gen.oneOf(1, 2, 3, 5)
  } yield {
    val rng = new scala.util.Random(shuffle)
    val ids = rng.shuffle(stamps.indices.toVector)
    val base = stamps.indices.map { i =>
      Trade(2L * ids(i) + parity(i), symbols(i), cents(i) / 100.0, stamps(i))
    }
    val copy = base.filter(_.symbol == copied).map(t =>
      t.copy(id = t.id + 2L * stamps.size, symbol = Symbols.last))
    // rows in shuffled order, sorted by neither id nor time: tied rows
    // reach the engine in an arbitrary order
    Corpus(anchor, rng.shuffle(base ++ copy), topLimit, liveLimit)
  }

  // ---- the reference -------------------------------------------------------

  /** A double cast to DECIMAL(38, s), as Spark casts: via its shortest
    * decimal string, rounded half-up. */
  private def dec(d: Double, scale: Int): BigDecimal =
    BigDecimal(d).setScale(scale, RoundingMode.HALF_UP)

  /** An exact decimal through its string to a double (`Sql.dsum`'s route). */
  private def toDouble(b: BigDecimal): Double = b.bigDecimal.toPlainString.toDouble

  private def dsum(ts: Seq[Trade]): Double = toDouble(ts.map(t => dec(t.qty, 10)).sum)

  private def vwap(ts: Seq[Trade]): Any = {
    val volume = dsum(ts)
    if (volume == 0.0) null
    else toDouble(ts.map(t => dec(t.price, 6) * dec(t.qty, 6)).sum) / volume
  }

  /** The ISO-8601 rendering of `Results`. */
  private def iso(us: Long): String = {
    val s = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    val frac = Math.floorMod(us, 1000000L)
    if (frac == 0) s else f"$s.$frac%06d"
  }

  /** A value that may be any of `prices` (a price at a timestamp tie). */
  private case class AnyOf(prices: Set[Double])

  private type Row = Seq[(String, Any)]

  private def byMinute(ts: Seq[Trade]): Seq[(Long, Seq[Trade])] =
    ts.groupBy(t => Math.floorDiv(t.ts, Min) * Min).toSeq.sortBy(_._1)

  private def buySell(ts: Seq[Trade]): Row = {
    val (buy, sell) = ts.partition(_.buyerMaker == 0)
    Seq("buy_volume" -> dsum(buy), "sell_volume" -> dsum(sell),
      "buy_vwap" -> vwap(buy), "sell_vwap" -> vwap(sell), "trades" -> ts.size.toLong)
  }

  /** The reference's reply, and whether a tie decides its LIMIT cut. */
  private def reference(c: Corpus, endpoint: String, symbol: String,
                        n: Long): (Seq[Row], Boolean) = {
    val window = c.trades.filter(_.ts >= c.anchor - n * Min)
    val mine = window.filter(_.symbol == symbol)
    val perSymbol = window.groupBy(_.symbol).toSeq
    endpoint match {
      case "ohlcv" => (byMinute(mine).map { case (m, ts) =>
        val (first, last) = (ts.map(_.ts).min, ts.map(_.ts).max)
        Seq("minute" -> iso(m),
          "open" -> AnyOf(ts.filter(_.ts == first).map(_.price).toSet),
          "high" -> ts.map(_.price).max, "low" -> ts.map(_.price).min,
          "close" -> AnyOf(ts.filter(_.ts == last).map(_.price).toSet),
          "volume" -> dsum(ts), "trades" -> ts.size.toLong)
      }, false)
      case "top_symbols" =>
        val rows = perSymbol.map { case (s, ts) =>
          val volume = dsum(ts)
          (-volume, s, Seq("symbol" -> s, "volume" -> volume, "trades" -> ts.size.toLong))
        }.sortBy(r => (r._1, r._2))
        (rows.take(c.topLimit).map(_._3), tieAtCut(rows.map(_._1), c.topLimit))
      case "live_trades" =>
        val sorted = mine.sortBy(t => (-t.ts, -t.id))
        (sorted.take(c.liveLimit).map(t => Seq("ts" -> iso(t.ts), "symbol" -> t.symbol,
          "trade_id" -> t.id, "price" -> t.price, "qty" -> t.qty,
          "is_buyer_maker" -> t.buyerMaker.toLong)),
          tieAtCut(sorted.map(t => -t.ts.toDouble), c.liveLimit))
      case "live_buy_sell" =>
        val rows = perSymbol.map { case (s, ts) =>
          val bs = buySell(ts)
          val total = bs(0)._2.asInstanceOf[Double] + bs(1)._2.asInstanceOf[Double]
          (-total, s, Seq("symbol" -> s) ++ bs ++
            Seq("trades_per_min" -> (if (n == 0) null else ts.size / n.toDouble),
              "total_volume" -> total))
        }.sortBy(r => (r._1, r._2))
        (rows.take(c.topLimit).map(_._3), tieAtCut(rows.map(_._1), c.topLimit))
      case "hist_buy_sell" =>
        (byMinute(mine).map { case (m, ts) => Seq("minute" -> iso(m)) ++ buySell(ts) }, false)
    }
  }

  /** Whether the `limit`-th key equals the first one past the cut. */
  private def tieAtCut(keys: Seq[Double], limit: Int): Boolean = {
    val s = keys.sorted
    s.size > limit && s(limit - 1) == s(limit)
  }

  // ---- the comparison ------------------------------------------------------

  private val json = new ObjectMapper()

  /** How `got` (JSON rows) differs from `want`, if it does. */
  private def diff(got: Seq[String], want: Seq[Row]): Option[String] = {
    def same(v: com.fasterxml.jackson.databind.JsonNode, w: Any): Boolean = w match {
      case null => v.isNull
      case s: String => v.isTextual && v.asText == s
      case l: Long => v.isIntegralNumber && v.asLong == l
      case d: Double => v.isNumber && java.lang.Double.compare(v.asDouble, d) == 0
      case AnyOf(ps) => v.isNumber && ps.contains(v.asDouble)
    }
    if (got.size != want.size) Some(s"${got.size} rows, want ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if {
        val node = json.readTree(g)
        val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
          node.fieldNames()).asScala.toSeq
        names != w.map(_._1) || !w.forall { case (k, v) => same(node.get(k), v) }
      } => s"row $i: $g, want $w"
    }
  }

  private def twin(c: Corpus, dir: String, endpoint: String, symbol: String,
                   n: Long): DataFrame = endpoint match {
    case "ohlcv" => TradeQueries.ohlcv(symbol, n)(spark, dir)
    case "top_symbols" => TradeQueries.topSymbolsBy(n, c.topLimit)(spark, dir)
    case "live_trades" => TradeQueries.liveTradesFor(symbol, n, c.liveLimit)(spark, dir)
    case "live_buy_sell" => TradeQueries.liveBuySellFor(n, c.topLimit)(spark, dir)
    case "hist_buy_sell" => TradeQueries.histBuySellFor(symbol, n)(spark, dir)
  }

  private def request(c: Corpus, dir: String, endpoint: String, symbol: String,
                      n: Long): Seq[String] = {
    val asof = Tables.microsToTimestamp(c.anchor)
    val (sql, args) = endpoint match {
      case "ohlcv" => (SqlApi.ohlcvSql, Map("symbol" -> symbol))
      case "top_symbols" => (SqlApi.topSymbolsSql, Map("limit" -> c.topLimit))
      case "live_trades" => (SqlApi.liveTradesSql,
        Map("symbol" -> symbol, "limit" -> c.liveLimit))
      case "live_buy_sell" => (SqlApi.liveBuySellSql, Map("top" -> c.topLimit))
      case "hist_buy_sell" => (SqlApi.histBuySellSql, Map("symbol" -> symbol))
    }
    Results.toJsonRows(SqlApi.query(spark, sql,
      args ++ Map("minutes" -> n, "asof" -> asof)))
  }

  /** The nine other corpus tables, empty: [[SqlApi.registerViews]]
    * registers them too. */
  private lazy val otherTables: String = {
    val dir = tmpDir("api-reference-tables")
    Tables.corpusTables.filter(_ != "events")
      .foreach(n => spark.range(0).write.parquet(s"$dir/$n.parquet"))
    dir
  }

  /** Write `c` as a corpus dir: its trades as `events.parquet` (epoch-nano
    * `ts`, as the corpora store it), the other tables linked from
    * [[otherTables]]. */
  private def write(c: Corpus): String = {
    import spark.implicits._
    val dir = tmpDir("api-reference")
    c.trades.map(t => (t.id, t.symbol, t.price, t.ts * 1000L))
      .toDF("event_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    Tables.corpusTables.filter(_ != "events").foreach(n => Files.createSymbolicLink(
      Paths.get(dir, s"$n.parquet"), Paths.get(otherTables, s"$n.parquet")))
    dir
  }

  private val Endpoints = Seq("ohlcv", "top_symbols", "live_trades", "live_buy_sell",
    "hist_buy_sell")

  test("prepared SQL endpoints and TradeQueries builders == brute-force reference " +
      "(cutoff trades, minute edges, timestamp and LIMIT-cut ties, empty windows)") {
    var cutTies, empties = 0
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2).withWorkers(1)
        .withInitialSeed(Seed(20261020L)),
      Prop.forAllNoShrink(corpusGen) { c =>
        val dir = write(c)
        try {
          SqlApi.registerViews(spark, dir)
          val misses = for {
            (n, i) <- Lookbacks.zipWithIndex
            endpoint <- Endpoints
            // one symbol per lookback, and one that has no trades
            symbol = (Symbols :+ "none")(i % (Symbols.size + 1))
            miss <- {
              val (want, tie) = reference(c, endpoint, symbol, n)
              if (tie) cutTies += 1
              if (want.isEmpty) empties += 1
              Seq("SqlApi" -> request(c, dir, endpoint, symbol, n),
                "TradeQueries" -> Results.toJsonRows(twin(c, dir, endpoint, symbol, n)))
                .flatMap { case (path, got) =>
                  diff(got, want).map(d => s"$path $endpoint($symbol, N=$n): $d")
                }
            }
          } yield miss
          misses.isEmpty :| s"${misses.size} mismatches: ${misses.take(3).mkString("; ")}"
        } finally {
          Tables.invalidateAnchor(dir)
          graft.store.Store.deleteRecursively(Paths.get(dir))
        }
      })
    assert(res.passed, s"property failed after ${res.succeeded} passing corpora: ${res.status}")
    // the generator must reach the cases the property is about
    assert(cutTies > 0, "no LIMIT cut fell inside a tie")
    assert(empties > 0, "no empty window")
  }
}
