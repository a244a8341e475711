package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.CandlePipeline

/** The partial-candle merge invariant (SURVEY.md §5-3 / ST4): merging
  * per-block partial candles must equal aggregating the raw trades
  * directly, for ANY assignment of trades to blocks — this is what makes
  * the reference's per-insert-block MV + re-aggregating reader correct.
  * Checked on a golden fixture and property-style over random trade sets
  * and block assignments. */
class CandleSpec extends SparkSpec {
  import spark.implicits._

  private def mkTrades(rows: Seq[(String, Long, Double, Double, Long, Int)]) =
    rows.toDF("symbol", "trade_id", "price", "qty", "epoch", "block")
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .drop("epoch")

  private def direct(trades: org.apache.spark.sql.DataFrame) =
    CandlePipeline.candles(trades)
      .orderBy("minute", "symbol")
      .collect()
      .map(r => (r.getAs[Timestamp]("minute"), r.getAs[String]("symbol"),
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Double]("volume"), r.getAs[Long]("trades")))

  private def viaPartials(trades: org.apache.spark.sql.DataFrame) = {
    val partials = trades.select("block").distinct().collect()
      .map(_.getAs[Int]("block"))
      .map(b => CandlePipeline.partialCandles(
        trades.where(col("block") === b), b.toLong))
      .reduce(_ unionByName _)
    CandlePipeline.readCandles(partials)
      .orderBy("minute", "symbol")
      .collect()
      .map(r => (r.getAs[Timestamp]("minute"), r.getAs[String]("symbol"),
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Double]("volume"), r.getAs[Long]("trades")))
  }

  test("golden: partial merge across blocks == direct aggregation") {
    val trades = mkTrades(Seq(
      ("BTC", 1L, 100.0, 1.0, 60L, 0),  // minute 1, block 0
      ("BTC", 2L, 110.0, 2.0, 70L, 0),
      ("BTC", 3L, 90.0, 1.0, 80L, 1),   // same minute, later block
      ("BTC", 4L, 95.0, 0.5, 119L, 1),
      ("ETH", 5L, 10.0, 3.0, 65L, 0),
      ("BTC", 6L, 101.0, 1.0, 125L, 1)  // minute 2
    ))
    assert(viaPartials(trades).toSeq == direct(trades).toSeq)
  }

  test("golden: open/close come from the time-extreme trades across blocks") {
    // block 1 holds the EARLIEST trade, block 0 the latest — the merged
    // candle must take open from block 1 and close from block 0.
    val trades = mkTrades(Seq(
      ("BTC", 1L, 50.0, 1.0, 10L, 1),
      ("BTC", 2L, 60.0, 1.0, 30L, 0),
      ("BTC", 3L, 70.0, 1.0, 50L, 0)
    ))
    val merged = viaPartials(trades)
    assert(merged.length == 1)
    val (_, _, open, high, low, close, _, n) = merged(0)
    assert(open == 50.0 && close == 70.0 && high == 70.0 && low == 50.0 && n == 3)
  }

  test("property: merge == direct for random trades and block assignments") {
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    (1 to 8).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val rows = (1 to n).map { _ =>
        (if (rnd.nextBoolean()) "A" else "B",
          1L + rnd.nextInt(999),
          (1 + rnd.nextInt(10000)) / 100.0,
          (1 + rnd.nextInt(500)) / 100.0,
          rnd.nextLong(600L),            // 10 minutes of event time
          rnd.nextInt(4))                // 4 blocks
      }
      val trades = mkTrades(rows)
      assert(viaPartials(trades).toSeq == direct(trades).toSeq)
    }
  }

  test("readCandles breaks open_ts/close_ts ties across blocks by block id") {
    // coarse 10-s timestamps make the time-extreme trade of a
    // (minute, symbol) tie across blocks; each block holds at most one
    // trade per (symbol, ts), so the expected open/close is the first/
    // last trade in (ts, block) order and nothing else is arbitrary
    val rnd = new scala.util.Random(11)
    var (openTies, closeTies) = (0, 0)
    (1 to 6).foreach { _ =>
      val rows = for {
        block <- 0 until 3; sym <- Seq("S0", "S1")
        sec <- 0L until 120L by 10L if rnd.nextDouble() < 0.5
      } yield (sym, rnd.nextInt(999).toLong,
        (1 + rnd.nextInt(500)) / 10.0, 1.0, sec, block)
      val byKey = rows.groupBy(r => (r._5 / 60, r._1)).values
        .map(_.sortBy(r => (r._5, r._6)))
      openTies += byKey.count(g => g.size > 1 && g(0)._5 == g(1)._5)
      closeTies += byKey.count(g => g.size > 1 &&
        g.last._5 == g(g.size - 2)._5)
      val expected = byKey
        .map(g => ((g.head._5 / 60) * 60000L, g.head._1, g.head._3,
          g.last._3))
        .toSeq.sortBy(e => (e._1, e._2))
      val got = viaPartials(mkTrades(rows))
      assert(got.map(c => (c._1.getTime, c._2, c._3, c._6)).toSeq ==
        expected)
      // the tie-free columns still equal the direct aggregation
      assert(got.map(c => (c._1, c._2, c._4, c._5, c._7, c._8)).toSeq ==
        direct(mkTrades(rows)).map(c =>
          (c._1, c._2, c._4, c._5, c._7, c._8)).toSeq)
    }
    // precondition: the ties this case exists for did occur
    assert(openTies > 0 && closeTies > 0, s"ties: $openTies / $closeTies")
  }

  test("candle invariants: low <= min(open, close) <= max(open, close) <= high") {
    val trades = mkTrades(
      (1 to 200).map(i => ("S" + i % 3, i.toLong, (i * 37 % 100) + 1.0,
        1.0, (i * 13 % 300).toLong, i % 4)))
    CandlePipeline.candles(trades).collect().foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= math.min(o, c) && math.max(o, c) <= h)
    }
  }

  test("candle volume equals raw window sum per (minute, symbol)") {
    val trades = mkTrades(
      (1 to 100).map(i => ("X", i.toLong, 10.0, i.toDouble, (i % 180).toLong, 0)))
    val fromCandles = CandlePipeline.candles(trades)
      .agg(sum("volume")).collect()(0).getDouble(0)
    val fromRaw = trades.agg(sum("qty")).collect()(0).getDouble(0)
    assert(math.abs(fromCandles - fromRaw) < 1e-6)
  }
}
