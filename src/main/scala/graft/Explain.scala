package graft

/** Plan-audit utility: prints `explain(formatted)` for the named queries
  * (all when none given). Usage: runMain graft.Explain <sfDir> [names...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = args.drop(1).toSet
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registry
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"========== ${q.name} ==========")
        q.run(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
