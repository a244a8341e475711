package e2ebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Times are ns since the probe's
  * origin; `parent` is the id of the enclosing span on the same thread
  * (0 = none), or, for a Spark job, of the span that submitted it. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Everything the benchmark reads from outside the engine: spans around
  * calls into the engine's layers, Spark's task/stage/job events, the
  * per-action Catalyst phase times (`QueryExecution.tracker`), codegen
  * compiles (`CodegenMetrics` for counts, the code generator's own
  * "Code generated in N ms" log line for times) and JVM GC time.
  *
  * Counters are cumulative; callers take a [[snapshot]] at the start and
  * end of a window and subtract. With `tracing` off, [[span]] only runs
  * its body and no per-job work is done beyond summing task metrics, so
  * the untraced run's timings carry no tracing cost. */
final class Probe(val tracing: Boolean) {
  val origin: Long = System.nanoTime()
  private val originWallMs = System.currentTimeMillis()
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /** Phase boundaries, seconds since JVM start, for the run's context. */
  val marks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  def mark(phase: String): Unit = marks.add(phase ->
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)

  def add(key: String, v: Long): Unit =
    c.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)

  /** With tracing on, wait for the listener bus to deliver the events of
    * the work just done, so a window boundary splits them cleanly. */
  def settle(): Unit = if (tracing) Thread.sleep(500)

  def snapshot(): Map[String, Long] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    c.asScala.map { case (k, v) => k -> v.get }.toMap ++
      Map("jvm.gc_ms" -> gc, "codegen.compiles" -> codegen)
  }

  /** Run `body` as a span of `layer`. While it runs, Spark jobs the
    * thread submits carry the span id as their job group. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      stack.set(id :: parents)
      layers.put(id, layer)
      val sc = SparkSession.active.sparkContext
      sc.setJobGroup(id.toString, layer, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          t0 - origin, System.nanoTime() - origin))
        stack.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  // open spans are not in `spans` yet; each id's layer is kept from start
  private val layers = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private def layerOf(id: Long): String = layers.getOrDefault(id, "")
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Long)]()

  /** Task, stage and job totals, keyed as `exec.*`. Jobs inside a
    * builder span also count as `queries.build_jobs`. */
  val sparkListener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        add("exec.tasks", 1)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.input_bytes", m.inputMetrics.bytesRead)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      if (tracing) {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val parent = group.flatMap(_.toLongOption).getOrElse(0L)
        if (parent > 0 && layerOf(parent) == "queries.build")
          add("queries.build_jobs", 1)
        // a streaming query's jobs carry its run id as their job group
        val layer = if (parent == 0 && group.nonEmpty) "stream.job" else "exec.job"
        jobStart.put(e.jobId, (parent, layer, System.nanoTime() - origin))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (parent, layer, t0) =>
        spans.add(Span(nextId.getAndIncrement(), parent, layer, s"job ${e.jobId}",
          t0, System.nanoTime() - origin))
      }
  }

  /** Catalyst phase times of every successful action. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"catalyst.${phase}_ms", s.durationMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("catalyst.failed_actions", 1)
  }

  /** Streaming progress: per-phase durations and one entry per batch. */
  final case class Batch(query: String, batchId: Long, startMs: Long,
                         durations: Map[String, Long], inputRows: Long,
                         receivedNs: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val b = Batch(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, System.nanoTime())
        batches.add(b)
        if (tracing) {
          val start = (b.startMs - originWallMs) * 1000000L
          spans.add(Span(nextId.getAndIncrement(), 0L, "stream.batch",
            s"${p.id.toString.take(8)}#${p.batchId} rows=${p.numInputRows} " +
              b.durations.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "),
            start, start + b.durations.getOrElse("triggerExecution", 0L) * 1000000L))
        }
      }
    }
  }

  /** Codegen compile times from the code generator's log line. */
  private val compileAppender = new AbstractAppender("e2ebench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    private val pattern = "Code generated in ([0-9.]+) ms".r.unanchored
    override def append(event: LogEvent): Unit =
      event.getMessage.getFormattedMessage match {
        case pattern(ms) => add("codegen.compile_us", (ms.toDouble * 1000).toLong)
        case _ =>
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    if (tracing) routeCodegenLog()
  }

  /** Route the code generator's INFO "Code generated" line to
    * [[compileAppender]] alone, through a logger config of its own: Spark's
    * `setLogLevel` only changes the root logger's, so it survives. */
  private def routeCodegenLog(): Unit = {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    if (!config.getLoggers.containsKey(name)) {
      if (!compileAppender.isStarted) compileAppender.start()
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(compileAppender, Level.INFO, null)
      config.addLogger(name, lc)
      ctx.updateLoggers()
    }
  }
}
