package e2ebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Ops
import graft.store.{ScanStats, Store}
import graft.streaming.{CandlePipeline, TradeIngest}

/** `lifecycle`: the reference's write path beside its reads. An
  * open-loop generator hands pre-built wire-envelope files (one 500-row
  * flush each, with replayed duplicates and late events) into a file
  * source on a fixed schedule, one per trigger interval, [[PhaseMs]]
  * after a tick of Spark's `ProcessingTime` grid. The source feeds
  * `TradeIngest.normalize`, which feeds `TradeIngest.ingestSink` (the
  * store) and `CandlePipeline.partialSink` (the candle MV). Half an
  * interval after each hand-off one client reads the live store
  * (`Store.readTradesSince`) and the candles
  * (`CandlePipeline.readCandles`). Freshness runs from a file's
  * due hand-off time until both sinks have committed the batch holding
  * it. The run ends by draining a backlog of volume-sized files.
  *
  * Correctness, after the run: the store read back through the replay
  * dedup must equal the generated distinct trades, the store must hold
  * every delivered line exactly once, and the candle MV must equal the
  * batch candles over the store. */
object Lifecycle {
  /** Set-ups per run, whose median is `setup_s` (a set-up takes about 0.4 s). */
  val SetupReps = 7
  /** How long after a trigger tick each file is handed off. */
  val PhaseMs = 150L

  final case class WireFile(dir: String, name: String, rows: Long,
                            maxTsMs: Long, kind: String)

  def manifest(path: String): Seq[WireFile] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      WireFile(f(0), f(1), f(2).toLong, f(3).toLong, f(4))
    }.toSeq

  /** One ingest deployment: the source directory, the two sinks and
    * their checkpoints under `root`. */
  final class Pipeline(spark: SparkSession, root: String, triggerMs: Long) {
    val in: Path = Files.createDirectories(Paths.get(root, "in"))
    val store = s"$root/store"
    val partials = s"$root/partials"
    private def source = TradeIngest.normalize(
      spark.readStream.format("text").load(in.toString))
    private val trigger = Trigger.ProcessingTime(triggerMs)
    val ingest: StreamingQuery =
      TradeIngest.ingestSink(source, store, s"$root/ck-ingest", trigger)
    val candles: StreamingQuery =
      CandlePipeline.partialSink(source, partials, s"$root/ck-candles", trigger)
    val queries = Seq(ingest, candles)
    private val ckpt = Map(ingest.id -> s"$root/ck-ingest", candles.id -> s"$root/ck-candles")

    def handOff(f: WireFile): Unit =
      Files.move(Paths.get(f.dir, f.name), in.resolve(f.name),
        StandardCopyOption.ATOMIC_MOVE)

    private val fileEntry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

    /** File name -> batch id, from a query's file-source log. */
    def batchOf(q: StreamingQuery): Map[String, Long] = {
      val dir = Paths.get(ckpt(q.id), "sources", "0")
      if (!Files.isDirectory(dir)) Map.empty
      else Files.list(dir).iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(p => scala.util.Try(Files.readAllLines(p).asScala).getOrElse(Nil))
        .collect { case fileEntry(path, b) => path.split('/').last -> b.toLong }
        .toMap
    }

    /** When both sinks have committed each of `files` (listener receipt,
      * nanoTime), or `None` for a file not committed by both yet. */
    def committedAt(probe: Probe, files: Seq[WireFile]): Seq[Option[Long]] = {
      val perQuery = queries.map { q =>
        val done = probe.batches.asScala.filter(_.query == q.id.toString)
          .map(b => b.batchId -> b.receivedNs).toMap
        val where = batchOf(q)
        files.map(f => where.get(f.name).flatMap(done.get))
      }
      files.indices.map(i => perQuery.map(_(i)).reduce((a, b) =>
        for (x <- a; y <- b) yield x max y))
    }

    def awaitCommitted(probe: Probe, files: Seq[WireFile], timeoutMs: Long): Seq[Option[Long]] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var c = committedAt(probe, files)
      while (c.exists(_.isEmpty) && System.currentTimeMillis() < deadline &&
             queries.forall(_.isActive)) {
        Thread.sleep(10)
        c = committedAt(probe, files)
      }
      queries.foreach(_.exception.foreach(e => throw e))
      c
    }

    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Next wall-clock ms at `phase` past a multiple of `triggerMs`, at
    * least `leadMs` from now. */
  def nextSlot(triggerMs: Long, phase: Long, leadMs: Long): Long = {
    val t = System.currentTimeMillis() + leadMs
    (t / triggerMs + 1) * triggerMs + phase
  }

  def sleepUntil(wallMs: Long): Unit = {
    val d = wallMs - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  /** A live read of the latest trades or of the recent candles; returns
    * the number of files it scanned. */
  def liveRead(spark: SparkSession, p: Pipeline, what: String, sinceMs: Long): Long = {
    val df: DataFrame =
      if (what == "trades")
        Store.readTradesSince(spark, p.store, sinceMs * 1000L)
          .orderBy(desc("ts"), desc("trade_id")).limit(50)
      else
        CandlePipeline.readCandles(spark.read.parquet(p.partials))
          .where(col("minute") >= graft.Tables.microsToTimestamp(sinceMs * 1000L))
          .orderBy("minute", "symbol")
    df.collect()
    ScanStats.totals(df)._1
  }

  def dirBytes(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def run(a: Main.Args, probe: Probe): Main.Outcome = {
    val files = manifest(a.wire)
    val T = a.triggerMs
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def check(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      Util.attempt(ok) match {
        case Right(true) =>
        case Right(false) => failed += 1; errors += s"$what: mismatch"
        case Left(e) => failed += 1; errors += s"$what: $e"
      }
    }
    // set-up: a session and both streaming queries, up to their first
    // (empty) batch
    var rep = 0
    val (setupS, spark, p) = Main.repeatedSetup(a, probe, SetupReps) { spark =>
      rep += 1
      val p = new Pipeline(spark, s"${a.work}/lifecycle/rep$rep", T)
      while (p.queries.exists(_.lastProgress == null)) {
        p.queries.foreach(_.exception.foreach(e => throw e))
        Thread.sleep(10)
      }
      p
    }
    // warm-up, untimed: one file and both reads, which also leaves the
    // store non-empty for the window's first reads
    files.filter(_.kind == "warm").foreach { f =>
      attempted += 1
      p.handOff(f)
      if (p.awaitCommitted(probe, Seq(f), 60000).exists(_.isEmpty)) {
        failed += 1; errors += s"warm-up file ${f.name} not committed"
      }
      Seq("trades", "candles").foreach(liveRead(spark, p, _, f.maxTsMs - 300000))
    }
    probe.mark("warm")
    val live = files.filter(_.kind == "live")

    // live window: the generator hands off on schedule; the client reads
    probe.settle()
    val s0 = probe.snapshot()
    val first = nextSlot(T, PhaseMs, 200)
    val nowMs0 = System.currentTimeMillis()
    val nowNs0 = System.nanoTime()
    def wallToNs(ms: Long): Long = nowNs0 + (ms - nowMs0) * 1000000L
    val due = live.indices.map(i => first + i * T)
    val handedNs = new Array[Long](live.size)
    val generator = new Thread(() => {
      live.indices.foreach { i =>
        sleepUntil(due(i))
        p.handOff(live(i))
        handedNs(i) = System.nanoTime()
      }
    }, "e2ebench-generator")
    // the client reads between hand-offs: the latest trades, then the
    // recent candles, half an interval after each hand-off
    val readMs = mutable.ArrayBuffer.empty[Double]
    var filesScanned = 0L
    val window0 = System.nanoTime()
    generator.start()
    live.indices.foreach { i =>
      sleepUntil(due(i) + T / 2)
      Seq("trades", "candles").foreach { what =>
        attempted += 1
        val t0 = System.nanoTime()
        Util.attempt(probe.span("store.read", what)(
            liveRead(spark, p, what, live(i).maxTsMs - 300000))) match {
          case Right(nf) =>
            readMs += (System.nanoTime() - t0) / 1e6
            filesScanned += nf
          case Left(e) => failed += 1; errors += s"live read: $e"
        }
      }
    }
    generator.join()
    attempted += live.size
    val liveCommits = p.awaitCommitted(probe, live, 60000)
    val window = (window0, System.nanoTime())
    probe.mark("window")
    liveCommits.zip(live).filter(_._1.isEmpty).foreach { case (_, f) =>
      failed += 1; errors += s"${f.name} not committed"
    }
    val fresh = live.indices.flatMap(i =>
      liveCommits(i).map(c => (c - wallToNs(due(i))) / 1e6))
    val lateMs = live.indices.map(i => (handedNs(i) - wallToNs(due(i))) / 1e6)
    val backlogMax = live.indices.map(i =>
      (0 to i).count(j => liveCommits(j).forall(_ > handedNs(i)))).max
    val windowBatches = probe.batches.asScala.filter(b =>
      b.receivedNs >= window._1 && b.receivedNs <= window._2).toSeq
    val waitMs = {
      val start = probe.batches.asScala.map(b => (b.query, b.batchId) -> b.startMs).toMap
      val where = p.queries.map(q => q.id.toString -> p.batchOf(q))
      live.indices.flatMap(i => where.flatMap { case (q, m) =>
        m.get(live(i).name).flatMap(b => start.get((q, b))).map(_ - due(i)).toSeq
      }).map(_.toDouble)
    }
    // a file whose batch started more than half an interval after the
    // tick that follows its hand-off missed that tick (or queued behind a
    // batch that overran)
    val missedTicks = waitMs.count(_ > T - PhaseMs + T / 2)
    probe.settle()
    val s1 = probe.snapshot()

    // backlog drain: the backlog's files are handed off at once
    attempted += 1
    val backlog = files.filter(_.kind == "backlog")
    val drainDueMs = nextSlot(T, PhaseMs, 200)
    sleepUntil(drainDueMs)
    backlog.foreach(p.handOff)
    val drained = p.awaitCommitted(probe, backlog, 120000)
    val drainRate =
      if (drained.exists(_.isEmpty)) { failed += 1; errors += "backlog not drained"; Nil }
      else Seq(backlog.map(_.rows).sum / ((drained.flatten.max - wallToNs(drainDueMs)) / 1e9))
    p.stop()
    probe.mark("drain")

    // correctness: exactly-once store, replay-deduped readback, candle MV
    val truth = spark.read.parquet(s"${files.head.dir}/truth.parquet").drop("file")
    val stored = Store.readTrades(spark, p.store)
    check("store holds every delivered line once")(
      stored.count() == files.map(_.rows).sum)
    check("deduped store == generated trades") {
      val deduped = Ops.dedupLatest(stored, Seq("ts", "symbol", "trade_id"), "ingested_at")
        .select(truth.columns.map(col).toIndexedSeq: _*)
      deduped.exceptAll(truth).isEmpty && truth.exceptAll(deduped).isEmpty
    }
    check("candle MV == batch candles over the store") {
      val cols = Seq("minute", "symbol", "open", "high", "low", "close", "volume", "trades").map(col)
      val mv = CandlePipeline.readCandles(spark.read.parquet(p.partials)).select(cols: _*)
      val batch = CandlePipeline.candles(stored).select(cols: _*)
      mv.exceptAll(batch).isEmpty && batch.exceptAll(mv).isEmpty
    }

    val (storeFiles, storeBytes) = dirBytes(p.store)
    val (mvFiles, mvBytes) = dirBytes(p.partials)
    val wireBytes = files.map(f => Files.size(p.in.resolve(f.name))).sum
    def sumPhase(k: String) = windowBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val layers = Main.layerMetrics(probe, s0, s1, window, Map(
      "store.reads" -> readMs.size.toDouble,
      "store.files_scanned" -> filesScanned.toDouble,
      "store.files_written" -> (storeFiles + mvFiles).toDouble,
      "store.bytes_written" -> (storeBytes + mvBytes).toDouble,
      "store.write_amp" -> (storeBytes + mvBytes).toDouble / wireBytes,
      "stream.batches" -> windowBatches.size.toDouble,
      "stream.addBatch_ms" -> sumPhase("addBatch"),
      "stream.getBatch_ms" -> sumPhase("getBatch"),
      "stream.queryPlanning_ms" -> sumPhase("queryPlanning"),
      "stream.walCommit_ms" -> sumPhase("walCommit"),
      "stream.commitOffsets_ms" -> sumPhase("commitOffsets"),
      "stream.backlog_files_max" -> backlogMax.toDouble,
      "stream.missed_ticks" -> missedTicks.toDouble))
    Main.Outcome(
      Map("setup_s" -> setupS, "op_ms" -> fresh, "live_read_ms" -> readMs.toSeq,
        "drain_rows_per_s" -> drainRate,
        "stream.batch_ms" -> windowBatches.map(
          _.durations.getOrElse("triggerExecution", 0L).toDouble),
        "stream.trigger_wait_ms" -> waitMs, "gen.late_ms" -> lateMs),
      layers, attempted, failed, errors.toSeq)
  }
}
