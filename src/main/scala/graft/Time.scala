package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-query diagnostic: runs each named query twice and prints one
  * `TIME {json}` line per run — wall seconds plus the shuffle bytes/rows
  * and spill totals of every stage the run launched. run1 vs run2
  * separates constant per-query overhead (planning, codegen compilation)
  * from data-proportional cost. Shuffle and spill come from a
  * scheduler-level listener, not plan walking: a `localCheckpoint`ed or
  * pinned frame cuts lineage and hides its shuffle from the final plan.
  * Extra Spark confs go in through `SPARK_GRAFT_EXTRA_JAVA_OPTS` -D flags.
  *
  * Usage: runMain graft.Time <sfDir> <name> [name...] */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val bytes = new LongAdder
    val rows = new LongAdder
    val spillMem = new LongAdder
    val spillDisk = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          bytes.add(m.shuffleWriteMetrics.bytesWritten)
          rows.add(m.shuffleWriteMetrics.recordsWritten)
          spillMem.add(m.memoryBytesSpilled)
          spillDisk.add(m.diskBytesSpilled)
        }
      }
    })
    // listener events are asynchronous; a short drain window before each
    // readout is fine for a diagnostic (stage events land well inside it
    // once the blocking action returned)
    def drain(): Unit = Thread.sleep(1000)

    // registry + the deliberately-unregistered bench contrasts (the
    // fixed-cell SemDeDup demo and the all-pairs LSH enumeration keep
    // their measured-bad-example rows this way)
    val byName =
      (SparkEntry.registry :+ graft.queries.EmbQueries.semanticDedup
        :+ graft.queries.DocQueries.minhashPairs)
        .map(q => q.name -> q).toMap
    def exec(n: String): Unit =
      byName(n).run(spark, sfDir).write.mode("overwrite").format("noop").save()
    exec("trades_count") // session warmup (codegen, parquet footers)
    drain()
    // ROOT locale: a comma decimal point would break the JSON
    def num(v: Double, digits: Int) =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def mb(v: LongAdder) = num(v.sum / 1e6, 2)
    names.foreach { n =>
      (1 to 2).foreach { i =>
        Seq(bytes, rows, spillMem, spillDisk).foreach(_.reset())
        val t0 = System.nanoTime()
        exec(n)
        // wall stops HERE — the drain below is harness time, not query time
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        println(s"""TIME {"query":${Session.jsonString(n)},"run":$i,""" +
          s""""wall_sec":${num(wall, 3)},"shuffle_mb":${mb(bytes)},""" +
          s""""shuffle_rows":${rows.sum},"spill_mem_mb":${mb(spillMem)},""" +
          s""""spill_disk_mb":${mb(spillDisk)}}""")
      }
    }
    spark.stop()
  }
}
