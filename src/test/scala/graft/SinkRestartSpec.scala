package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.BlockStore
import graft.streaming._

/** The restart matrix of the seven block-partial streaming MVs. Each
  * family's sink runs through [[BlockStore.sink]] under
  * `Trigger.AvailableNow`, one micro-batch per delivered file, in two
  * scenarios:
  *
  *  - stop: batches 0 and 1 run, the query stops, a third file arrives
  *    and a restart runs batch 2;
  *  - crash: as stop, but before the restart the `commits/1` entry is
  *    deleted — a crash between block 1's write and its offset commit —
  *    so the restart re-runs batch 1 under the same id before batch 2.
  *
  * Either way the merged read must equal the batch twin (the family's
  * read over one block staged from every delivered row), the store must
  * hold blocks 0, 1 and 2 and nothing else, and block 1 must hold one
  * write of its batch: a replay replaces its block. The candle family
  * runs through `CandlePipeline.partialSink`, its production sink. */
class SinkRestartSpec extends SparkSpec {
  import SinkRestartSpec.Family

  private val Schema = "doc_id LONG, text STRING, symbol STRING, " +
    "price DOUBLE, qty DOUBLE, ts LONG, user_id LONG, embedding ARRAY<FLOAT>"

  /** One corpus row carries every family's columns: a document for the
    * index and dedup families, a trade for candles, histogram and
    * projection, a user for heavy hitters and a vector for ANN. */
  private def rec(id: Long, text: String, symbol: String, price: Double,
                  qty: Double, sec: Long, user: Long, e: (Int, Int)): String =
    s"""{"doc_id":$id,"text":"$text","symbol":"$symbol","price":$price,""" +
      s""""qty":$qty,"ts":${sec * 1000000L},"user_id":$user,""" +
      s""""embedding":[${e._1},${e._2}]}"""

  private val Deliveries = Seq(
    Seq(rec(1, "alpha beta gamma delta epsilon zeta", "BTC", 100.5, 2.0, 10, 1, (1, 2)),
      rec(2, "alpha beta gamma delta epsilon eta", "ETH", 10.25, 3.5, 50, 2, (8, 9)),
      rec(3, "one two three four five six seven", "BTC", 90.0, 1.0, 70, 1, (0, 1))),
    // a late trade for minute 0 and a near-dup of doc 1
    Seq(rec(4, "alpha beta gamma delta epsilon zeta", "BTC", 120.0, 1.0, 130, 1, (12, 11)),
      rec(5, "cat cat dog owl", "SOL", 5.75, 10.0, 5, 3, (5, 5)),
      rec(6, "one two three four five six eight", "ETH", 10.5, 0.5, 65, 2, (9, 8))),
    Seq(rec(7, "dog cat cat cat", "BTC", 99.5, 4.0, 200, 1, (2, 1)),
      rec(8, "alpha beta gamma delta epsilon zeta", "SOL", 6.0, 1.0, 30, 3, (11, 10))))

  private def deliver(src: String, i: Int): Unit =
    writeOrderedFile(src, s"d$i.json", i, Deliveries(i))

  private def stream(src: String): DataFrame =
    spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(src)
      .withColumn("ts", timestamp_micros(col("ts")))

  private def batch(src: String, files: Int*): DataFrame =
    spark.read.schema(Schema).json(files.map(i => s"$src/d$i.json"): _*)
      .withColumn("ts", timestamp_micros(col("ts")))

  private def cents = {
    import spark.implicits._
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0))).toDF("clabel", "centroid")
  }

  private val Families = Seq(
    Family("candles", CandlePipeline.stage,
      p => CandlePipeline.readCandles(spark.read.parquet(p)),
      Some((rows, p, c) =>
        CandlePipeline.partialSink(rows, p, c, Trigger.AvailableNow()))),
    Family("Index", IndexMV.stage(_, 3), p => IndexMV.merged(spark, p, 3)),
    Family("Dedup", DedupMV.stage, p => DedupMV.candidates(spark, p)),
    Family("Ann", b => AnnMV.stage(b.select(col("doc_id").as("vec_id"),
        col("user_id").as("label"), col("embedding")), cents),
      p => AnnMV.assignments(spark, p)),
    Family("Histogram",
      HistogramMV.stage(_, "symbol", "price", 0.0, 200.0, 10),
      p => HistogramMV.merged(spark, p)),
    Family("Projection", ProjectionMV.stage,
      p => ProjectionMV.probe(spark, p)),
    Family("HeavyHitters", HeavyHitters.stage(_, "user_id", 8),
      p => HeavyHitters.candidates(spark, p, 8, 0.2)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Rows per parquet leaf directory under `dir`, keyed by its path
    * below `dir` (a projection block has two leaves, `side=base` and
    * `side=proj`). */
  private def leafRows(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList
      .filter(p => Files.isDirectory(p) &&
        p.toFile.list().exists(_.endsWith(".parquet")))
      .map(p => dir.relativize(p).toString ->
        spark.read.parquet(p.toString).count())
      .toMap
    finally s.close()
  }

  for (f <- Families; crash <- Seq(false, true))
    test(s"${f.name}: " +
      (if (crash) "a crash before batch 1's offset commit"
       else "a stop after batch 1") +
      ", then a restart over one more file, reads back every row once") {
      val src = tmpDir("restart-src")
      val partials = tmpDir("restart-partials")
      val ckpt = tmpDir("restart-ckpt")
      def run(): Unit = {
        val q = f.sink.getOrElse((rows: DataFrame, p: String, c: String) =>
          BlockStore.sink(rows, p, c, Trigger.AvailableNow())(f.stage))(
          stream(src), partials, ckpt)
        assert(q.awaitTermination(120000), s"${f.name} sink did not finish")
        q.exception.foreach(e => throw e)
      }
      deliver(src, 0)
      deliver(src, 1)
      run()
      val commit1 = Paths.get(ckpt, "commits", "1")
      assert(Files.exists(commit1), "batches 0 and 1 did not both run")
      if (crash) {
        Files.delete(commit1)
        Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
      }
      deliver(src, 2)
      run()
      assert(Files.exists(commit1) &&
        Files.exists(Paths.get(ckpt, "commits", "2")))

      assert(new java.io.File(partials).list().toSet ==
        Set("block=0", "block=1", "block=2"))
      val alone = tmpDir("restart-alone")
      f.stage(batch(src, 1))(alone)
      assert(leafRows(Paths.get(partials, "block=1")) ==
        leafRows(Paths.get(alone)), "block 1 is not one write of batch 1")

      val twin = tmpDir("restart-twin")
      BlockStore.writeBlock(twin, 0L)(f.stage(batch(src, 0, 1, 2)))
      val want = rows(f.read(twin))
      assert(want.nonEmpty)
      assert(rows(f.read(partials)) == want)
    }
}

object SinkRestartSpec {

  /** One block family: how a batch's block is staged, how the store
    * reads back, and the family's own production sink where it has one
    * (else the query is [[BlockStore.sink]] of `stage`). */
  final case class Family(
      name: String, stage: DataFrame => String => Unit,
      read: String => DataFrame,
      sink: Option[(DataFrame, String, String) => StreamingQuery] = None)
}
