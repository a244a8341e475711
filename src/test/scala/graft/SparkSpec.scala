package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session (sbt forks
  * a single test JVM), UTC, small shuffle width for speed. */
object TestSession {
  private lazy val tempWarehouse: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-wh")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try graft.store.Store.deleteRecursively(p)
      catch { case _: Exception => () }))
    p
  }

  lazy val spark: SparkSession = {
    // fixed at 4, not SPARK_GRAFT_CPUS, so the suites run the same
    // partition shapes on any host
    val s = Session.builder(cpus = "4")
      .appName("graft-tests")
      // fresh warehouse per JVM: managed-table LOCATIONS persist on disk
      // while the in-memory catalog forgets them, so a reused default
      // warehouse collides on the second run (LOCATION_ALREADY_EXISTS);
      // a shutdown hook removes the temp dir so runs don't litter /tmp
      .config("spark.sql.warehouse.dir", tempWarehouse.toString)
      // Every stateful streaming suite (sessionization, stream-join,
      // candle merge, dedup) runs under the RocksDB state store — the
      // 100 TB deployment choice, since the default HDFS-backed provider
      // keeps all state on the executor heap while RocksDB spills to
      // local disk. Parity with the in-memory provider is exactly what
      // the suites assert: same results under either store.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write a JSON-lines file whose modification time encodes `order` —
    * the ONE file-source batch-ordering convention the streaming specs
    * share (the file source lists by modification time). */
  def writeOrderedFile(dir: String, name: String, order: Int,
                       lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(p, lines.mkString("\n"))
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        1000000000L + order * 10000L))
    ()
  }
}
