package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the engine's public
  * functions and writes its result as one JSON object to `--out`.
  *
  * {{{
  * java -cp <classpath> e2ebench.Main --workload dashboard --seed 1 \
  *   --seconds 10 --trace 0 --corpus <dir> --work <dir> --out result.json
  * }}}
  *
  * Set-up is repeated several times (a fresh Spark session each time,
  * then the workload's own set-up and first operation); the first rep is
  * timed from JVM start. The last rep's session then runs the
  * workload's untimed warm-up and the timed window. With
  * `--trace 1` every call into an engine layer becomes a span, Spark jobs
  * are attributed to the span that submitted them, and the per-layer
  * numbers are reported next to the end-to-end ones. */
object Main {
  /** Spark runs at `local[Cpus]`. */
  val Cpus = 4

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, corpus: String, wire: String,
                        work: String, out: String, triggerMs: Long)

  /** What a workload hands back: raw samples (latencies, set-up times;
    * `run.py` turns them into the reported statistics), per-layer
    * counters, operation counts and any errors. */
  final case class Outcome(samples: Map[String, Seq[Double]],
                           layers: Map[String, Double],
                           attempted: Long, failed: Long,
                           errors: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("corpus"), m.getOrElse("wire", ""),
      m("work"), m("out"),
      m.getOrElse("trigger-ms", "1500").toLong)
  }

  def newSession(a: Args, probe: Probe): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    probe.install(spark)
    spark
  }

  /** Set up `reps` times; returns each rep's seconds and the last rep's
    * state, which the timed window then uses. */
  def repeatedSetup[S](a: Args, probe: Probe, reps: Int)(setup: SparkSession => S)
      : (Seq[Double], SparkSession, S) = {
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    var last: (SparkSession, S) = null
    val secs = (1 to reps).map { rep =>
      if (last != null) {
        last._1.streams.active.foreach(_.stop())
        last._1.stop()
      }
      val t0 = if (rep == 1) jvmStartNs else System.nanoTime()
      val spark = newSession(a, probe)
      last = (spark, setup(spark))
      (System.nanoTime() - t0) / 1e9
    }
    probe.mark("setup")
    (secs, last._1, last._2)
  }

  /** Heap in use after full collections, with pauses that let Spark's
    * context cleaner drop the blocks of unreachable RDDs in between. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `/proc/stat` cpu line: (steal, total) jiffies. */
  def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
  }

  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) 0.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val probe = new Probe(a.trace)
    val steal0 = cpuJiffies()
    val outcome = scala.util.Try(a.workload match {
      case "reads" => Reads.run(a, probe)
      case "lifecycle" => Lifecycle.run(a, probe)
      case w => sys.error(s"unknown workload $w")
    })
    val steal1 = cpuJiffies()
    outcome.failed.foreach(_.printStackTrace())
    val o = outcome.getOrElse(Outcome(Map.empty, Map.empty, 1, 1,
      Seq(outcome.failed.get.toString)))
    val heap = if (outcome.isSuccess) Seq(liveHeapMb()) else Nil
    val (s, t) = (steal1._1 - steal0._1, steal1._2 - steal0._2)
    val result = Map(
      "workload" -> a.workload,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "errors" -> o.errors.take(20),
      "samples" -> (o.samples + ("heap_live_mb" -> heap)),
      "layers" -> (o.layers + ("jvm.peak_rss_mb" -> peakRssMb())),
      "context" -> (probe.marks.asScala.map { case (k, v) => s"at_${k}_s" -> v }.toMap ++ Map(
        "steal_pct" -> (if (t > 0) 100.0 * s / t else 0.0),
        "cpus" -> Cpus.toDouble,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)))
    Files.writeString(Paths.get(a.out), Json.value(result) + "\n")
    if (a.trace)
      Files.writeString(Paths.get(a.out + ".spans.jsonl"), probe.spans.asScala.map(s =>
        Json.value(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)) + "\n")
        .mkString)
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0) // the result is written; leave no stray non-daemon thread behind
  }

  /** Counters over a window: `end - start` for every key. */
  def delta(s0: Map[String, Long], s1: Map[String, Long]): Map[String, Long] =
    s1.map { case (k, v) => k -> (v - s0.getOrElse(k, 0L)) }

  /** The per-layer metrics every workload reports, from the probe's
    * counters over the timed window (`s0` to `s1`); `extra` adds
    * workload-specific ones and overrides defaults. `setup.cold_s` and the
    * `codegen.setup_*` counters cover the cold start instead: JVM start
    * through the warm-up, up to `s0`. */
  def layerMetrics(probe: Probe, s0: Map[String, Long], s1: Map[String, Long],
                   window: (Long, Long), extra: Map[String, Double]): Map[String, Double] = {
    val d = delta(s0, s1)
    def g(k: String) = d.getOrElse(k, 0L).toDouble
    Map(
      "setup.cold_s" -> probe.marks.asScala.collectFirst { case ("warm", t) => t }.getOrElse(0.0),
      "codegen.setup_compile_ms" -> s0.getOrElse("codegen.compile_us", 0L) / 1000.0,
      "codegen.setup_compiles" -> s0.getOrElse("codegen.compiles", 0L).toDouble,
      "queries.build_jobs" -> g("queries.build_jobs"),
      "catalyst.analysis_ms" -> g("catalyst.analysis_ms"),
      "catalyst.optimization_ms" -> g("catalyst.optimization_ms"),
      "catalyst.planning_ms" -> g("catalyst.planning_ms"),
      "codegen.compile_ms" -> g("codegen.compile_us") / 1000.0,
      "codegen.compiles" -> g("codegen.compiles"),
      "exec.task_cpu_ms" -> g("exec.task_cpu_ns") / 1e6,
      "exec.task_run_ms" -> g("exec.task_run_ms"),
      "exec.gc_ms" -> g("exec.gc_ms"),
      "exec.jobs" -> g("exec.jobs"),
      "exec.stages" -> g("exec.stages"),
      "exec.tasks" -> g("exec.tasks"),
      "exec.input_bytes" -> g("exec.input_bytes"),
      "exec.shuffle_write_bytes" -> g("exec.shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> g("exec.shuffle_read_bytes"),
      "exec.spill_bytes" -> g("exec.spill_bytes"),
      "jvm.gc_ms" -> g("jvm.gc_ms"),
      "window_s" -> (window._2 - window._1) / 1e9,
      "window.start_ms" -> (window._1 - probe.origin) / 1e6,
      "window.end_ms" -> (window._2 - probe.origin) / 1e6
    ) ++ extra
  }
}

/** Minimal JSON rendering (no dependency beyond the Scala library). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case s: String => str(s)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
      .map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

/** Seeded choices. */
final class Rng(seed: Long) {
  private val r = new scala.util.Random(seed)
  def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
  def shuffle[T](xs: Seq[T]): Seq[T] = r.shuffle(xs)
}

object Util {
  /** Run `body`; a throw becomes `Left(message)`. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case scala.util.control.NonFatal(e) =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)) }
}
