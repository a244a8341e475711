package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{NamedQuery, SparkEntry}
import graft.api.{Results, SqlApi}
import graft.queries.TradeQueries

/** `reads`: the engine's read side, one closed-loop client. A round is
  * every operation class in a seeded order:
  *
  *  - the reference's five API endpoints at each of five lookbacks (one
  *    minute to the whole 30-day window), [[ApiReps]] requests per
  *    (endpoint, lookback) class, each through `SqlApi.query` and then
  *    `Results.toJsonRows`, with a seeded symbol per class. Small plans
  *    on small data: the fixed cost of a request dominates;
  *  - a slice of the query registry, one query per family with a
  *    multi-job builder (eager `Ckpt.pin`s) or a shuffle-heavy plan, each
  *    built by its `graft.queries` builder and run through the `noop`
  *    sink.
  *
  * After set-up, one untimed round (one request per API class) warms
  * every plan shape and the JIT; it writes each registry query's result
  * (the same plan as the timed `noop` run, into Parquet) for the
  * correctness gate. The timed window is [[rounds]] whole rounds, so
  * every seed times the same mix and at least 100 API requests.
  *
  * Correctness, outside the window: `run.py` compares the registry
  * results with the committed DuckDB-oracle fingerprints; here, every
  * distinct API tuple's reply must equal the reply of its `TradeQueries`
  * builder twin, and a tuple asked twice must get the same reply. */
object Reads {
  /** Set-ups per run, whose median is `setup_s` (a set-up takes about 2.5 s). */
  val SetupReps = 3
  val Symbols = Seq("click", "error", "purchase", "signup", "view")
  val Lookbacks = Seq(1L, 60L, 1440L, 10080L, 43200L)
  /** Requests per API class in a timed round. */
  val ApiReps = 2
  val Endpoints = Seq("ohlcv", "top_symbols", "live_trades", "live_buy_sell", "hist_buy_sell")
  val Queries = Seq(
    "trades_candle_merge", "joins_top_suppliers", "docs_simhash_hamming",
    "emb_ivf_topk", "events_sessionization")

  final case class Req(endpoint: String, symbol: String, minutes: Long) {
    def args(asof: java.sql.Timestamp): Map[String, Any] = endpoint match {
      case "ohlcv" | "hist_buy_sell" =>
        Map("symbol" -> symbol, "minutes" -> minutes, "asof" -> asof)
      case "live_trades" =>
        Map("symbol" -> symbol, "minutes" -> minutes, "limit" -> 50, "asof" -> asof)
      case "top_symbols" => Map("minutes" -> minutes, "limit" -> 5, "asof" -> asof)
      case "live_buy_sell" => Map("minutes" -> minutes, "top" -> 5, "asof" -> asof)
    }
    def sql: String = endpoint match {
      case "ohlcv" => SqlApi.ohlcvSql
      case "top_symbols" => SqlApi.topSymbolsSql
      case "live_trades" => SqlApi.liveTradesSql
      case "live_buy_sell" => SqlApi.liveBuySellSql
      case "hist_buy_sell" => SqlApi.histBuySellSql
    }
    /** The `TradeQueries` builder that computes the same reply. */
    def twin(spark: SparkSession, dir: String): DataFrame = endpoint match {
      case "ohlcv" => TradeQueries.ohlcv(symbol, minutes)(spark, dir)
      case "top_symbols" => TradeQueries.topSymbolsBy(minutes, 5)(spark, dir)
      case "live_trades" => TradeQueries.liveTradesFor(symbol, minutes, 50)(spark, dir)
      case "live_buy_sell" => TradeQueries.liveBuySellFor(minutes, 5)(spark, dir)
      case "hist_buy_sell" => TradeQueries.histBuySellFor(symbol, minutes)(spark, dir)
    }
  }

  /** Rounds in the timed window: a round takes about 14 s on a 4-vCPU
    * host, and a whole number of rounds (at least two, so 100 API
    * requests) keeps every run's mix the same. Samples are keyed by
    * operation class, (endpoint, lookback) or query, so that `run.py` can
    * take each class's median. */
  def rounds(seconds: Int): Int = math.max(2, math.round(seconds / 14.0).toInt)

  /** One request per API class, with a seeded symbol for the endpoints
    * that take one. */
  def requests(rng: Rng): Seq[Req] =
    for (ep <- Endpoints; m <- Lookbacks) yield Req(ep,
      if (ep == "top_symbols" || ep == "live_buy_sell") "" else rng.pick(Symbols), m)

  def round(rng: Rng, reqs: Seq[Req], queries: Seq[NamedQuery],
            reps: Int): Seq[Either[Req, NamedQuery]] =
    rng.shuffle(Seq.fill(reps)(reqs).flatten.map(Left(_)) ++ queries.map(Right(_)))

  /** Reply digest: row count and an order-sensitive hash of the rows. */
  def digest(rows: Seq[String]): (Int, Int) =
    (rows.size, scala.util.hashing.MurmurHash3.seqHash(rows))

  def call(spark: SparkSession, probe: Probe, r: Req,
           asof: java.sql.Timestamp): Seq[String] = {
    val df = probe.span("api.sql", r.endpoint)(SqlApi.query(spark, r.sql, r.args(asof)))
    probe.span("api.render", r.endpoint)(Results.toJsonRows(df))
  }

  def exec(spark: SparkSession, probe: Probe, q: NamedQuery, dir: String): Unit = {
    val df = probe.span("queries.build", q.name)(q.run(spark, dir))
    probe.span("exec.action", q.name)(df.write.mode("overwrite").format("noop").save())
  }

  def run(a: Main.Args, probe: Probe): Main.Outcome = {
    val dir = a.corpus
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val queries = Queries.map(byName)
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val seen = mutable.LinkedHashMap.empty[Req, (Int, Int)]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed, rowsOut = 0L
    def fail(e: String): Unit = { failed += 1; errors += e }

    // set-up: views, the time anchor and one request
    val (setupS, spark, asof) = Main.repeatedSetup(a, probe, SetupReps) { spark =>
      SqlApi.registerViews(spark, dir)
      val asof = SqlApi.anchor(spark, dir)
      call(spark, probe, Req("ohlcv", Symbols.head, Lookbacks.last), asof)
      asof
    }
    val rng = new Rng(a.seed)
    val reqs = requests(rng)
    round(rng, reqs, queries, 1).foreach {
      case Left(r) => call(spark, probe, r, asof)
      case Right(q) =>
        attempted += 1
        Util.attempt(q.run(spark, dir).write.mode("overwrite")
            .parquet(s"${a.work}/results/${q.name}"))
          .left.foreach(e => fail(s"${q.name} (warm-up): $e"))
    }
    probe.mark("warm")

    probe.settle()
    val s0 = probe.snapshot()
    val t0 = System.nanoTime()
    (1 to rounds(a.seconds)).foreach(_ => round(rng, reqs, queries, ApiReps).foreach { op =>
      attempted += 1
      val t = System.nanoTime()
      def ms = (System.nanoTime() - t) / 1e6
      op match {
        case Left(r) => Util.attempt(call(spark, probe, r, asof)) match {
          case Right(rows) =>
            sample(s"api.${r.endpoint}.${r.minutes}_ms", ms)
            rowsOut += rows.size
            val d = digest(rows)
            if (seen.getOrElseUpdate(r, d) != d) fail(s"$r: reply changed between calls")
          case Left(e) => fail(s"$r: $e")
        }
        case Right(q) => Util.attempt(exec(spark, probe, q, dir)) match {
          case Right(_) => sample(s"query.${q.name}_ms", ms)
          case Left(e) => fail(s"${q.name}: $e")
        }
      }
    })
    val window = (t0, System.nanoTime())
    probe.mark("window")
    probe.settle()
    val s1 = probe.snapshot()

    // correctness gate: each distinct API tuple vs its builder twin, four
    // at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val checks = seen.toSeq.map { case (r, got) =>
      pool.submit(() => Util.attempt(digest(Results.toJsonRows(r.twin(spark, dir)))) match {
        case Right(want) if want == got => None
        case Right(want) => Some(s"$r: SqlApi reply $got != builder twin $want")
        case Left(e) => Some(s"$r: builder twin threw: $e")
      })
    }
    checks.foreach { c => attempted += 1; c.get().foreach(fail) }
    pool.shutdown()
    probe.mark("checks")

    Main.Outcome(
      samples.map { case (k, v) => k -> v.toSeq }.toMap + ("setup_s" -> setupS),
      Main.layerMetrics(probe, s0, s1, window, Map(
        "api.rows_out" -> rowsOut.toDouble,
        "api.distinct_tuples" -> seen.size.toDouble)),
      attempted, failed, errors.toSeq)
  }
}
