package e2ebench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the registry queries of the `reads` workload as one JSON
  * object (`{"query": "sql", ...}`) to the path given as the argument;
  * `oracle.py` turns them into the committed expected fingerprints. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = Reads.Queries.map(n => Json.str(n) + ":" + Json.str(sql(n)))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(args(0)), json + "\n")
  }
}
