package graft
import org.apache.spark.sql.SparkSession

/** The one local-session recipe every main and the test session build
  * from: `local[cpus]` with as many shuffle partitions as cores, UTC
  * session time, `events.parquet`'s TIMESTAMP(NANOS) read as epoch-nanos
  * (see [[Tables]]), UI off. Callers add only the settings where they
  * differ (app name, warehouse, state-store provider). Also holds the
  * JSON string escaper for the lines the mains print. */
object Session {
  /** @param cpus local cores and shuffle partitions; `SPARK_GRAFT_CPUS`,
    *   default 4, never a big-machine guess */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — one bare tab or CR in an error message or builder-authored
    * SQL would make a whole output line unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
