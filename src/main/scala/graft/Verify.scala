package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is logged and the sweep goes on; at the end the run exits 1 and
  * names every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // orphan sweep: a renamed/removed query's dir from a previous round
    // would otherwise survive in a reused outDir and be compared as if
    // it were this round's output — the same stale-result hazard the
    // per-query delete below guards against, one level up
    val current = SparkEntry.queries.keySet
    val outRoot = Paths.get(outDir)
    // close the listing stream (an open directory fd would leak for the
    // rest of the driver run) BEFORE deleting what it returned
    val stale = {
      val s = Files.list(outRoot)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) && !current(p.getFileName.toString))
        .toList
      finally s.close()
    }
    stale.foreach(graft.store.Store.deleteRecursively)
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so the full set runs there. The orphan sweep above runs
    // BEFORE the filter on purpose: a filtered run into a fresh outDir
    // must not be mistaken for full coverage, so keep outDir separate.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // refuse a filtered run into an outDir holding a wider dump: it
    // would overwrite oracle_sql.json with the subset while the other
    // queries' stale result dirs survive — check.py iterates the json
    // keys, so the run would read as all-green "full" coverage that
    // actually compared one query
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    if (only.isDefined) {
      val jsonWider = Files.exists(oraclePath) && {
        val existing = Files.readString(oraclePath)
        SparkEntry.oracleSql.keys.exists(k =>
          !only.get(k) && existing.contains("\"" + k + "\""))
      }
      // an interrupted full run leaves result dirs but no json — those
      // current-named dirs survive the orphan sweep, so check them too
      val dirWider = current.exists(k =>
        !only.get(k) && Files.isDirectory(outRoot.resolve(k)))
      require(!jsonWider && !dirWider,
        s"SPARK_GRAFT_ONLY run would shadow a fuller dump in $outDir — " +
          "use a fresh outDir for filtered local iteration")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      // remove any previous run's output FIRST: on failure a stale
      // result must not survive to be compared as if it were current
      val target = Paths.get(s"$outDir/$name")
      if (Files.exists(target)) graft.store.Store.deleteRecursively(target)
      // NonFatal only: a fatal error (OOM) poisons the JVM — dying with
      // rc != 0 beats emitting half-written results as if valid
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"    $f"))
        Some(name)
      }
    }
    val dumped = only match {
      case Some(names) => SparkEntry.oracleSql.filter(kv => names(kv._1))
      case None        => SparkEntry.oracleSql
    }
    import Session.{jsonString => q}
    val json = dumped
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
