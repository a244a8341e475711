package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CandlePipeline, StreamManager, TradeIngest}

/** Streaming-path coverage (SURVEY.md §5-4): ingest normalization golden
  * cases, the batched sink round trip, the incremental candle pipeline
  * equaling batch recomputation on the same input, late-data handling,
  * and lifecycle control. File sources + `Trigger.AvailableNow` keep
  * everything on public APIs and deterministic. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(sym: String, id: Long, p: String, q: String,
                       tMillis: Long, m: Boolean): String =
    s"""{"stream":"${sym.toLowerCase}@trade","data":{"s":"$sym","t":$id,"p":"$p","q":"$q","T":$tMillis,"m":$m}}"""

  test("normalize decodes the Binance envelope with casts and defaults") {
    val raw = Seq(
      envelope("BTCUSDT", 7, "42000.5", "0.25", 1700000000000L, true),
      // missing optional fields → reference defaults (0 / "0" / false)
      """{"stream":"x@trade","data":{"T":1700000060000}}""",
      // malformed JSON → null struct → defaults; no event time → dropped
      """not json at all"""
    ).toDF("value")
    val rows = TradeIngest.normalize(raw).orderBy("trade_id").collect()
    assert(rows.length == 2)
    val full = rows.find(_.getAs[Long]("trade_id") == 7L).get
    assert(full.getAs[String]("symbol") == "BTCUSDT")
    assert(full.getAs[Double]("price") == 42000.5)
    assert(full.getAs[Double]("qty") == 0.25)
    assert(full.getAs[Int]("is_buyer_maker") == 1)
    assert(full.getAs[java.sql.Timestamp]("ts").getTime == 1700000000000L)
    val defaulted = rows.find(_.getAs[Long]("trade_id") == 0L).get
    assert(defaulted.getAs[String]("symbol") == "")
    assert(defaulted.getAs[Double]("price") == 0.0)
    assert(defaulted.getAs[Int]("is_buyer_maker") == 0)
  }

  test("normalize wire edges: unknown fields, unicode escapes, bad " +
    "numerics, string-typed T") {
    val raw = Seq(
      // unknown fields at both levels are ignored, not errors
      """{"stream":"x","junk":1,"data":{"s":"ETHUSDT","t":1,"p":"5","q":"1",""" +
        """"T":1700000000000,"m":false,"e":"trade","X":[1,2]}}""",
      // unicode escape in a string field decodes (the generator-based
      // oracle can't produce this row; the JSON spec edge lives here)
      """{"data":{"s":"BTCÜSDT","t":2,"p":"1","q":"1","T":1700000000001}}""",
      // non-numeric price string → cast null → reference default 0.0.
      // (DEVIATION, deliberate: the reference's float("abc") would
      // throw and kill its message loop; a robust ingest defaults the
      // field and keeps the row — the event time is still good.)
      """{"data":{"s":"S","t":3,"p":"abc","q":"0.5","T":1700000000002}}""",
      // T as a JSON STRING, not a number: strict typed decode nulls the
      // field → no event time → dropped (same as missing T)
      """{"data":{"s":"S","t":4,"p":"1","q":"1","T":"1700000000003"}}"""
    ).toDF("value")
    val rows = TradeIngest.normalize(raw).orderBy("trade_id").collect()
    assert(rows.map(_.getAs[Long]("trade_id")).toSeq == Seq(1L, 2L, 3L),
      "unexpected survivor set")
    assert(rows(0).getAs[Int]("is_buyer_maker") == 0) // explicit false
    assert(rows(1).getAs[String]("symbol") == "BTCÜSDT")
    assert(rows(2).getAs[Double]("price") == 0.0 &&
      rows(2).getAs[Double]("qty") == 0.5)
  }

  test("ingest sink round trip: stream of envelopes → parquet trades") {
    val src = tmpDir("ingest-src")
    val out = tmpDir("ingest-out")
    val ckpt = tmpDir("ingest-ckpt")
    Files.writeString(Paths.get(src, "batch1.json"),
      (1 to 20).map(i =>
        envelope("BTCUSDT", i, s"$i.0", "1.0", 1700000000000L + i * 1000L,
          i % 2 == 0)).mkString("\n"))

    val raw = spark.readStream.format("text").load(src)
    val q = TradeIngest.ingestSink(
      TradeIngest.normalize(raw), out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val written = spark.read.parquet(out)
    assert(written.count() == 20)
    // exactly the declared at-rest schema (Bootstrap.tradesAtRest) —
    // no sink-private extras, so ingest appends and writeTrades
    // backfills keep ONE file schema per table
    assert(written.columns.toSet ==
      graft.store.Bootstrap.tradesAtRest.fieldNames.toSet)
    assert(written.agg(sum("qty")).collect()(0).getDouble(0) == 20.0)
    // the sink writes the Store's month-partitioned layout: rows are
    // visible to the pruned reader and expirable by partition-drop TTL
    val monthDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("month=")).map(_.getName).toSeq
    assert(monthDirs == Seq("month=202311"))
    assert(graft.store.Store.readTradesSince(spark, out,
      java.time.Instant.parse("2023-11-14T00:00:00Z").toEpochMilli * 1000L)
      .count() == 20)
  }

  private def tradeJson(sym: String, id: Long, price: Double, qty: Double,
                        epochSec: Long): String =
    s"""{"symbol":"$sym","trade_id":$id,"price":$price,"qty":$qty,"ts":${epochSec * 1000000L}}"""

  /** File-source trades stream with `ts` as epoch-micros converted to a
    * timestamp — same shape the ingest sink writes. */
  private def tradeStream(dir: String) =
    spark.readStream
      .schema("symbol STRING, trade_id LONG, price DOUBLE, qty DOUBLE, ts LONG")
      .json(dir)
      .withColumn("ts", timestamp_micros(col("ts")))

  test("incremental partial-candle pipeline == batch candles, including late rows") {
    val src = tmpDir("candle-src")
    val partials = tmpDir("candle-partials")
    val ckpt = tmpDir("candle-ckpt")

    // first delivery: minutes 0 and 1
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      tradeJson("BTC", 1, 100.0, 1.0, 10),
      tradeJson("BTC", 2, 110.0, 2.0, 50),
      tradeJson("BTC", 3, 90.0, 1.0, 70),
      tradeJson("ETH", 4, 10.0, 5.0, 20)).mkString("\n"))
    val q1 = CandlePipeline.partialSink(
      tradeStream(src), partials, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(60000)

    // second delivery: minute 2 AND a LATE row for minute 0 — lands as
    // another partial for the old minute, like the reference MV (ST4).
    Files.writeString(Paths.get(src, "b2.json"), Seq(
      tradeJson("BTC", 5, 120.0, 1.0, 130),
      tradeJson("BTC", 6, 95.0, 4.0, 5)).mkString("\n"))
    val q2 = CandlePipeline.partialSink(
      tradeStream(src), partials, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val allTrades = spark.read
      .schema("symbol STRING, trade_id LONG, price DOUBLE, qty DOUBLE, ts LONG")
      .json(src)
      .withColumn("ts", timestamp_micros(col("ts")))

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("minute", "symbol").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("minute").getTime,
          r.getAs[String]("symbol"), r.getAs[Double]("open"),
          r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume"),
          r.getAs[Long]("trades"))).toSeq

    val merged = snap(CandlePipeline.readCandles(spark.read.parquet(partials)))
    val direct = snap(CandlePipeline.candles(allTrades))
    assert(merged == direct)
    // the late trade (id 6, epoch 5s, price 95) must have become minute-0's open
    assert(merged.find(c => c._2 == "BTC" && c._1 == 0L).get._3 == 95.0)
    // and multiple partials genuinely existed for that minute
    val p = spark.read.parquet(partials)
    assert(p.where(col("symbol") === "BTC" &&
      col("minute") === timestamp_seconds(lit(0))).count() >= 2)
  }

  test("partial-candle sink: a crash between the block write and the " +
    "offset commit replays the batch, and the replay replaces its block") {
    val src = tmpDir("replay-src")
    val partials = tmpDir("replay-partials")
    val ckpt = tmpDir("replay-ckpt")
    def run(): Unit = CandlePipeline.partialSink(
      tradeStream(src), partials, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      tradeJson("BTC", 1, 100.0, 1.0, 10),
      tradeJson("ETH", 2, 10.0, 5.0, 20)).mkString("\n"))
    run() // block 0
    // block 1: a new minute and a LATE row that restates minute 0's open
    Files.writeString(Paths.get(src, "b2.json"), Seq(
      tradeJson("BTC", 3, 120.0, 2.0, 70),
      tradeJson("BTC", 4, 95.0, 1.0, 5)).mkString("\n"))
    run()
    // crash state: block 1 is committed, its offsets are not — the
    // restart re-runs batch 1 under the same id
    val commit = Paths.get(ckpt, "commits", "1")
    assert(Files.exists(commit))
    Files.delete(commit)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(Files.exists(commit), "the restart did not re-run batch 1")

    val onDisk = spark.read.parquet(partials)
    def blockRows(b: Int) = onDisk.where(col("block") === b).count()
    // block 1 holds (BTC, minute 0) and (BTC, minute 1), once each
    assert(blockRows(0) == 2 && blockRows(1) == 2,
      s"expected the replayed block on disk once, got ${blockRows(1)} rows")
    val allTrades = spark.read
      .schema("symbol STRING, trade_id LONG, price DOUBLE, qty DOUBLE, ts LONG")
      .json(src)
      .withColumn("ts", timestamp_micros(col("ts")))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("minute", "symbol", "open", "high", "low", "close",
        "volume", "trades")
        .orderBy("minute", "symbol").collect().map(_.toString).toSeq
    assert(snap(CandlePipeline.readCandles(onDisk)) ==
      snap(CandlePipeline.candles(allTrades)))
  }

  test("watermarked streaming candles match batch on closed windows") {
    val src = tmpDir("wm-src")
    val out = tmpDir("wm-out")
    val ckpt = tmpDir("wm-ckpt")
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      tradeJson("BTC", 1, 100.0, 1.0, 10),
      tradeJson("BTC", 2, 105.0, 2.0, 55),
      tradeJson("BTC", 3, 120.0, 1.0, 70)).mkString("\n"))
    // sentinel far in the future advances the watermark past minutes 0-1
    Files.writeString(Paths.get(src, "b2.json"), Seq(
      tradeJson("ZZZ", 99, 1.0, 1.0, 3600)).mkString("\n"))

    val q = CandlePipeline.candleSink(
      tradeStream(src), out, ckpt, "2 minutes", Trigger.AvailableNow())
    q.awaitTermination(120000)

    val emitted = spark.read.parquet(out).where(col("symbol") === "BTC")
      .orderBy("minute").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("minute").getTime,
        r.getAs[Double]("open"), r.getAs[Double]("close"),
        r.getAs[Double]("volume"), r.getAs[Long]("trades"))).toSeq
    assert(emitted == Seq(
      (0L, 100.0, 105.0, 3.0, 2L),
      (60000L, 120.0, 120.0, 1.0, 1L)))
  }

  test("socket source end-to-end: live envelopes → normalized trades") {
    // a real in-test socket server stands in for the exchange-WS bridge
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val payload = (1 to 8).map(i =>
      envelope("BTCUSDT", i, s"$i.5", "2.0", 1700000000000L + i * 1000L,
        i % 2 == 0)).mkString("", "\n", "\n")
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = sock.getOutputStream
      out.write(payload.getBytes("UTF-8"))
      out.flush()
      // keep the connection open comfortably past the reader's 60s
      // landing deadline (daemon thread — dies with the JVM)
      Thread.sleep(120000)
      sock.close(); server.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    val out = tmpDir("socket-out")
    val ckpt = tmpDir("socket-ckpt")
    val q = TradeIngest.ingestSink(
      TradeIngest.socketSource(spark, "localhost", port), out, ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      // wait until all 8 trades land (bounded)
      val deadline = System.currentTimeMillis() + 60000
      def landed(): Long =
        try spark.read.parquet(out).count() catch { case _: Exception => 0L }
      while (landed() < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(landed() == 8)
      val rows = spark.read.parquet(out)
      assert(rows.select("symbol").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("BTCUSDT"))
      assert(rows.agg(sum("qty")).collect()(0).getDouble(0) == 16.0)
    } finally {
      q.stop()
    }
  }

  test("streaming replay dedup: dropDuplicatesWithinWatermark absorbs redelivery") {
    // the in-flight analogue of the ReplacingMergeTree/dedup-view
    // semantics (ST1): a reconnect redelivers trades; keyed dedup within
    // the watermark drops them before they reach the sink
    val src = tmpDir("dedup-src")
    val out = tmpDir("dedup-out")
    val ckpt = tmpDir("dedup-ckpt")
    val batch = Seq(
      tradeJson("BTC", 1, 100.0, 1.0, 10),
      tradeJson("BTC", 2, 101.0, 1.0, 20),
      tradeJson("BTC", 1, 100.0, 1.0, 10), // same-file duplicate
      tradeJson("BTC", 3, 102.0, 1.0, 30))
    Files.writeString(Paths.get(src, "b1.json"), batch.mkString("\n"))
    // redelivered batch (reconnect replay)
    Files.writeString(Paths.get(src, "b2.json"),
      Seq(tradeJson("BTC", 2, 101.0, 1.0, 20),
        tradeJson("BTC", 4, 103.0, 1.0, 40)).mkString("\n"))

    val deduped = tradeStream(src)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("ts", "symbol", "trade_id")
    val q = deduped.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.coalesce(1).write.mode("append").parquet(out); ()
      }
      .start()
    q.awaitTermination(60000)

    val written = spark.read.parquet(out)
    assert(written.count() == 4) // ids 1..4 exactly once
    assert(written.select("trade_id").distinct().count() == 4)
  }

  test("startWithRetry retries failed launches and surfaces the error") {
    val mgr = new StreamManager("flaky")
    var attempts = 0
    mgr.startWithRetry(() => {
      attempts += 1
      throw new RuntimeException(s"boom $attempts")
    }, maxRetries = 2)
    assert(attempts == 3) // initial + 2 retries
    assert(mgr.currentState == "idle")
    assert(mgr.status("last_error").asInstanceOf[String].contains("boom"))
  }

  test("startWithRetry does NOT relaunch a successfully completed run") {
    val src = tmpDir("retry-src")
    val out = tmpDir("retry-out")
    Files.writeString(Paths.get(src, "b1.json"),
      (1 to 3).map(i => tradeJson("BTC", i, 1.0, 1.0, i * 10)).mkString("\n"))
    val mgr = new StreamManager("oneshot")
    var launches = 0
    mgr.startWithRetry(() => {
      launches += 1
      val q = CandlePipeline.partialSink(tradeStream(src), out,
        tmpDir(s"retry-ckpt-$launches"),
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(60000) // drains its input and completes → idle
      q
    }, maxRetries = 3)
    // a normal completion lands at idle WITHOUT an error — retrying it
    // would duplicate ingestion from the fresh checkpoints
    assert(launches == 1)
    assert(mgr.currentState == "idle")
    assert(mgr.status("last_error") == null)
  }

  test("StreamManager lifecycle: idle → running → idle, with row counters") {
    val src = tmpDir("mgr-src")
    val out = tmpDir("mgr-out")
    val ckpt = tmpDir("mgr-ckpt")
    Files.writeString(Paths.get(src, "b1.json"),
      (1 to 5).map(i => tradeJson("BTC", i, 1.0, 1.0, i * 10)).mkString("\n"))

    val mgr = new StreamManager("collector")
    assert(mgr.currentState == "idle")
    mgr.start(() => CandlePipeline.partialSink(
      tradeStream(src), out, ckpt, Trigger.AvailableNow()))
    assert(mgr.currentState == "running" || mgr.currentState == "idle")
    // AvailableNow terminates on its own; wait for it, then observe idle
    spark.streams.active.foreach(_.awaitTermination(60000))
    assert(mgr.currentState == "idle")
    assert(mgr.status("last_error") == null)
    mgr.stop()
    assert(mgr.currentState == "idle")
  }
}
