package graft

import java.util.Properties
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.RDDBlockId
import org.scalatest.BeforeAndAfterAll

import graft.api.{PreparedRequest, Results, SqlApi}
import graft.functions.RequestSlot
import graft.queries.TradeQueries

/** The parameterized SQL entry path (S9): named-parameter binding returns
  * the same results as the DataFrame builders, parameters actually vary
  * the result, the bound cutoff reaches the scan as a literal filter,
  * a DataFrame request runs as one job and a prepared request as one task
  * on the calling thread, and a refresh serves changed files. */
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

  /** What `body` starts. */
  private case class Counts(jobs: Int, executions: Int, compiles: Long)

  /** What `body` starts, and each job's properties. */
  private case class Seen(counts: Counts, properties: Seq[Properties])

  /** Spark jobs and SQL executions `body` starts, and the classes it
    * compiles. Listener events are delivered in order, so once the
    * listener has seen a marker job submitted after `body`, it has seen
    * every event of `body`. */
  private def seen(body: => Unit): Seen = {
    val sc = spark.sparkContext
    val group = s"sqlapi-${java.util.UUID.randomUUID}"
    val jobs, executions = new AtomicInteger
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) { jobs.incrementAndGet(); starts.add(e) }
          else if (g == group + "-marker") markerSeen = true
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      inGroup(group)(body)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen) {
        assert(System.nanoTime() < deadline, "marker job never reached the listener")
        Thread.sleep(10)
      }
      val jobStarts = starts.asScala.toSeq
      Seen(Counts(jobs.get, executions.get, compiles), jobStarts.map(_.properties))
    } finally sc.removeSparkListener(listener)
  }

  private def countsOf(body: => Unit): Counts = seen(body).counts

  /** Spark jobs `body` launches. */
  private def jobsOf(body: => Unit): Int = countsOf(body).jobs

  /** The RDDs `body` builds: the id of a marker RDD made after it less
    * that of one made before it, less one. */
  private def rddsBuilt(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.emptyRDD[Int].id
    body
    sc.emptyRDD[Int].id - before - 1
  }

  /** The plan of the RDD [[Results.toJsonRows]] runs for a prepared
    * request. */
  private def executable(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical match {
      case r: PreparedRequest => r.prepared.plan
      case other => fail(s"not a prepared request: $other")
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

  test("prepared endpoints: after an endpoint's first request, each request runs " +
      "no job, builds no RDD, compiles no class, starts no SQL execution and equals " +
      "its builder twin") {
    SqlApi.registerViews(spark, dir)
    val anchor = Tables.anchorMicros(spark, dir)
    val symbols = Seq("click", "error", "purchase", "signup", "view")
    for (endpoint <- Seq("ohlcv", "top_symbols", "live_trades", "live_buy_sell",
        "hist_buy_sell"); i <- 0 until 20) {
      // request i ends its window i minutes before the anchor, so its rows
      // are those of the builder twin (always anchored at the corpus's
      // last trade) over a lookback i minutes longer
      val minutes = Seq(1L, 60L, 1440L, 10080L, 43200L)(i % 5) + i
      val symbol = symbols(i % 5)
      val a = Map[String, Any]("symbol" -> symbol, "minutes" -> minutes,
        "asof" -> Tables.microsToTimestamp(anchor - i * 60000000L))
      val (sql, extra, twin) = endpoint match {
        case "ohlcv" => (SqlApi.ohlcvSql, Map.empty,
          TradeQueries.ohlcv(symbol, minutes + i)(spark, dir))
        case "top_symbols" => (SqlApi.topSymbolsSql, Map("limit" -> 3),
          TradeQueries.topSymbolsBy(minutes + i, 3)(spark, dir))
        case "live_trades" => (SqlApi.liveTradesSql, Map("limit" -> 50),
          TradeQueries.liveTradesFor(symbol, minutes + i, 50)(spark, dir))
        case "live_buy_sell" => (SqlApi.liveBuySellSql, Map("top" -> 3),
          // the rate divides by the request's own lookback
          TradeQueries.liveBuySellFor(minutes + i, 3)(spark, dir).withColumn(
            "trades_per_min", org.apache.spark.sql.functions.col("trades") /
              org.apache.spark.sql.functions.lit(minutes.toDouble)))
        case "hist_buy_sell" => (SqlApi.histBuySellSql, Map.empty,
          TradeQueries.histBuySellFor(symbol, minutes + i)(spark, dir))
      }
      var rows = Seq.empty[String]
      var rdds = 0
      val s = seen {
        rdds = rddsBuilt { rows = Results.toJsonRows(SqlApi.query(spark, sql, a ++ extra)) }
      }
      // the first request prepares the endpoint, which builds its RDD
      if (i > 0) {
        assert(s.counts == Counts(jobs = 0, executions = 0, compiles = 0),
          s"$endpoint request $i (symbol $symbol, $minutes min)")
        assert(rdds == 0, s"$endpoint request $i built $rdds RDDs")
      }
      assert(rows == Results.toJsonRows(twin),
        s"$endpoint request $i (symbol $symbol, $minutes min) differs from its builder twin")
    }
  }

  test("the bound plan a prepared request runs scans the snapshot with a literal " +
      "cutoff, and a refresh serves the new rows") {
    import java.nio.file.{Files, Paths}
    SqlApi.registerViews(spark, dir)
    val plan = executable(SqlApi.query(spark, SqlApi.liveTradesSql,
      args("symbol" -> "view", "minutes" -> 240L, "limit" -> 500)))
    val scans = plan.collect { case s: InMemoryTableScanExec => s }
    assert(scans.size == 1, s"expected one in-memory scan of trades: $plan")
    val cutoff = scans.head.predicates.collectFirst {
      case p @ GreaterThanOrEqual(a: Attribute, _: Literal) if a.name == "ts" => p
    }
    assert(cutoff.isDefined,
      s"no `ts >= <literal>` among the scan's predicates: ${scans.head.predicates}")
    // the literal is a request slot, and prints as the parameters it holds
    assert(cutoff.get.sql.matches("""\(.*ts >= timestampadd\(MINUTE, .*:minutes.*, :asof\)\)"""),
      s"the cutoff predicate prints as ${cutoff.get.sql}")
    assert(plan.collect { case p @ (_: Exchange | _: AdaptiveSparkPlanExec) => p }.isEmpty,
      s"the prepared plan has an exchange or an adaptive wrapper: $plan")

    val tmp = tmpDir("sqlapi-prepared-refresh")
    val events = Paths.get(dir, "events.parquet")
    val rows = spark.read.parquet(events.toString).count()
    def tradesInWindow(): Long = Results.toJsonRows(SqlApi.query(spark,
        SqlApi.topSymbolsSql, Map("minutes" -> 1000000L, "limit" -> 100,
          "asof" -> SqlApi.anchor(spark, tmp))))
      .map(j => "\"trades\":(\\d+)".r.findFirstMatchIn(j).get.group(1).toLong).sum
    Tables.corpusTables.foreach(n =>
      Files.copy(Paths.get(dir, s"$n.parquet"), Paths.get(tmp, s"$n.parquet")))
    SqlApi.registerViews(spark, tmp)
    assert(tradesInWindow() == rows)
    val replaced = Files.createDirectory(Paths.get(tmp, "events.parquet.new"))
    Seq("a", "b").foreach(p => Files.copy(events, replaced.resolve(s"$p.parquet")))
    Files.delete(Paths.get(tmp, "events.parquet"))
    Files.move(replaced, Paths.get(tmp, "events.parquet"))
    Tables.invalidateAnchor(tmp)
    SqlApi.refreshViews(spark, tmp)
    assert(tradesInWindow() == 2 * rows, "a prepared endpoint served the old snapshot")
  }

  test("prepared endpoints: four threads' requests each get the single-threaded " +
      "reply for their values") {
    SqlApi.registerViews(spark, dir)
    val anchor = Tables.anchorMicros(spark, dir)
    val tuples = Seq(("click", 43200L, 0L), ("view", 20160L, 30L), ("purchase", 43200L, 600L),
      ("error", 30000L, 7L)).map { case (symbol, minutes, back) =>
        Map[String, Any]("symbol" -> symbol, "minutes" -> minutes,
          "asof" -> Tables.microsToTimestamp(anchor - back * 60000000L))
      }
    def reply(a: Map[String, Any]): Seq[String] =
      Results.toJsonRows(SqlApi.query(spark, SqlApi.histBuySellSql, a))
    val want = tuples.map(reply)
    assert(want.distinct.size == tuples.size && want.forall(_.nonEmpty),
      "the tuples' replies must differ, or a mixed-up reply would pass")
    val pool = Executors.newFixedThreadPool(tuples.size)
    try {
      val start = new CountDownLatch(1)
      val replies = tuples.map(a => pool.submit(new Callable[Seq[Seq[String]]] {
        override def call(): Seq[Seq[String]] = { start.await(); Seq.fill(10)(reply(a)) }
      }))
      start.countDown()
      tuples.zip(want).zip(replies).foreach { case ((a, w), r) =>
        assert(r.get(300, TimeUnit.SECONDS).forall(_ == w),
          s"a concurrent request for $a got another reply than alone")
      }
    } finally pool.shutdownNow()
  }

  test("a prepared request leaves no request-slot local property on its thread " +
      "or on the next job") {
    SqlApi.registerViews(spark, dir)
    val sc = spark.sparkContext
    val prefix = RequestSlot.key(0).stripSuffix("0")
    def slotKeys(p: Properties): Set[String] =
      p.stringPropertyNames.asScala.filter(_.startsWith(prefix)).toSet
    def request(symbol: String = "click"): Seq[String] = Results.toJsonRows(
      SqlApi.query(spark, SqlApi.ohlcvSql, args("symbol" -> symbol, "minutes" -> 1440L)))
    // more keys than the endpoint has slots
    val keys = (0 until 10).map(RequestSlot.key)
    assert(keys.forall(sc.getLocalProperty(_) == null))
    val (click, view) = (request(), request("view"))
    assert(click.nonEmpty && view.nonEmpty && click != view,
      "the replies must differ with the slot values, or a lost value would pass")
    assert(keys.forall(sc.getLocalProperty(_) == null),
      s"the thread still holds slot properties after the requests")
    val next = seen(sc.parallelize(Seq(1), 1).count())
    assert(next.properties.map(slotKeys) == Seq(Set.empty),
      s"the next plain job carried slot properties: ${next.properties}")

    // a property the thread held under a slot's key is its own again
    sc.setLocalProperty(RequestSlot.key(0), "held")
    try {
      request()
      assert(sc.getLocalProperty(RequestSlot.key(0)) == "held")
    } finally sc.setLocalProperty(RequestSlot.key(0), null)
  }

  test("one prepared RDD serves every window, and its in-memory scan prunes " +
      "cached batches per request") {
    val batchSize = "spark.sql.inMemoryColumnarStorage.batchSize"
    val before = spark.conf.getOption(batchSize)
    // small batches, so that a narrow window can skip some
    spark.conf.set(batchSize, "100")
    try {
      SqlApi.registerViews(spark, dir)
      def request(minutes: Long) = SqlApi.query(spark, SqlApi.topSymbolsSql,
        args("minutes" -> minutes, "limit" -> 5))
      val scan = executable(request(1L)).collectFirst { case s: InMemoryTableScanExec => s }
        .getOrElse(fail("no in-memory scan in the prepared plan"))
      // the request's task runs on a copy of the plan; its metrics reach the
      // prepared plan's scan only by the merge after the task
      def scanned(minutes: Long): Long = {
        val rows0 = scan.metrics("numOutputRows").value
        var rdds = 0
        val s = seen { rdds = rddsBuilt(Results.toJsonRows(request(minutes))) }
        assert(s.counts.jobs == 0 && rdds == 0,
          s"a $minutes-minute request ran ${s.counts.jobs} jobs and built $rdds RDDs")
        scan.metrics("numOutputRows").value - rows0
      }
      val narrow = scanned(1L)
      val wide = scanned(43200L)
      assert(0 < narrow && narrow < wide,
        s"a 1-minute request scanned $narrow rows, a 30-day one $wide")
    } finally {
      before.fold(spark.conf.unset(batchSize))(spark.conf.set(batchSize, _))
      SqlApi.registerViews(spark, dir)
    }
  }

  test("a calling-thread task that throws after reading the snapshot throws to its " +
      "caller and leaves no execution memory and no block read lock behind") {
    SqlApi.registerViews(spark, dir)
    val env = SparkEnv.get
    val batches = spark.table("trades").queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers }
      .getOrElse(fail("trades is not cached"))
    val failing = batches.mapPartitions(SqlApiSpec.readThenFail)
    assert(failing.getNumPartitions == 1)
    val binary = GraftBridge.taskBinary(failing)
    val used = env.memoryManager.executionMemoryUsed
    val e = intercept[IllegalStateException](
      GraftBridge.runTask(spark.sparkContext, binary, failing.partitions.head)(_.size))
    assert(e.getMessage == SqlApiSpec.failure)
    assert(env.memoryManager.executionMemoryUsed == used,
      "the failed task's execution memory was not released")
    // removing a block waits until no task holds a read lock on it
    val removal = Future(env.blockManager.removeBlock(RDDBlockId(batches.id, 0)))(
      ExecutionContext.global)
    try Await.result(removal, 30.seconds)
    catch { case _: java.util.concurrent.TimeoutException =>
      fail("the failed task left a read lock on the snapshot's block") }
    spark.catalog.uncacheTable("trades")
  }
}

object SqlApiSpec {
  val failure = "a task failure after a snapshot read"

  /** Reads one cached batch of the snapshot (its block stays read-locked
    * until the iterator ends), takes execution memory, and throws. */
  def readThenFail(batches: Iterator[CachedBatch]): Iterator[Int] = {
    batches.next()
    // `TaskContext.taskMemoryManager` is Spark-private, but public in bytecode
    val task = TaskContext.get
    val memory = task.getClass.getMethod("taskMemoryManager").invoke(task)
      .asInstanceOf[TaskMemoryManager]
    val consumer = new MemoryConsumer(memory, MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    assert(consumer.acquireMemory(1L << 20) > 0)
    throw new IllegalStateException(failure)
  }
}
