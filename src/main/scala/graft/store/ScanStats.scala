package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Post-execution scan-metric extraction: how many files / bytes each
  * parquet scan in a plan actually read. This is the evidence partition
  * pruning and file skipping leave behind — a `month >= X` predicate on
  * the partitioned store must show up HERE as fewer files and bytes, not
  * just as a `PartitionFilters` line in explain output.
  *
  * Run the DataFrame's action first; file metrics are filled in when the
  * scan resolves its partitions. Both calls throw instead of reporting
  * zeros when that has not happened — on an unexecuted frame, or for a
  * plan with no file scan at all (e.g. one over a cached view) — so a
  * prune assertion such as `files <= n` can never pass vacuously. AQE
  * wraps stages, so the traversal descends through
  * [[AdaptiveSparkPlanExec]]/[[QueryStageExec]] and into subqueries.
  */
object ScanStats {

  final case class Scan(files: Long, bytes: Long, partitions: Option[Long])

  def of(df: DataFrame): Seq[Scan] = {
    def go(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(go)
    }
    go(df.queryExecution.executedPlan).map { f =>
      val size = f.metrics("filesSize")
      // a size metric starts below zero and reads 0 until it is set, so
      // an untouched one is an unresolved scan, not an empty one
      if (size.isZero)
        throw new IllegalStateException(
          s"scan of ${f.relation.location.rootPaths.mkString(", ")} has not run: " +
            "execute the DataFrame's action before reading its scan metrics")
      Scan(f.metrics("numFiles").value, size.value,
        f.metrics.get("numPartitions").map(_.value))
    }
  }

  /** Totals across every file scan in the plan: (files, bytes). */
  def totals(df: DataFrame): (Long, Long) = {
    val s = of(df)
    if (s.isEmpty)
      throw new IllegalStateException(
        "plan has no file scan to total (does it read a cached view?)")
    (s.map(_.files).sum, s.map(_.bytes).sum)
  }
}
