package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.store.BlockStore
import graft.streaming.HistogramMV

/** Streaming histogram-sketch store: per-batch partials, exact
  * merge-equals-batch parity, quantile interpolation with the
  * bucket-width bound, replay replacement, and domain clamping. */
class HistogramMVSpec extends SparkSpec {

  private val Lo = 0.0
  private val Hi = 100.0
  private val Buckets = 10

  private def rowJson(sym: String, price: Double): String =
    s"""{"symbol":"$sym","price":$price}"""

  private def rowStream(dir: String) =
    spark.readStream.schema("symbol STRING, price DOUBLE").json(dir)

  test("streamed histogram merges to the exact batch histogram and " +
    "interpolates within the bucket-width bound") {
    val src = tmpDir("hmv-src")
    val partials = tmpDir("hmv-partials")
    val ckpt = tmpDir("hmv-ckpt")

    // delivery 1: symbol a takes one value per bucket (5, 15, ... 95);
    // symbol b piles into one bucket
    val d1 = (0 until 10).map(i => rowJson("a", 5.0 + 10 * i)) ++
      Seq.fill(4)(rowJson("b", 33.0))
    Files.writeString(Paths.get(src, "b1.json"), d1.mkString("\n"))
    assert(BlockStore.sink(rowStream(src), partials, ckpt,
      Trigger.AvailableNow())(
      HistogramMV.stage(_, "symbol", "price", Lo, Hi, Buckets))
      .awaitTermination(120000), "delivery 1 did not finish")

    // delivery 2: b spreads out; out-of-domain values clamp to the
    // edge buckets instead of failing
    val d2 = Seq(rowJson("b", 77.0), rowJson("b", -5.0), rowJson("b", 105.0))
    Files.writeString(Paths.get(src, "b2.json"), d2.mkString("\n"))
    assert(BlockStore.sink(rowStream(src), partials, ckpt,
      Trigger.AvailableNow())(
      HistogramMV.stage(_, "symbol", "price", Lo, Hi, Buckets))
      .awaitTermination(120000), "delivery 2 did not finish")

    // parity: merged streaming counters == batch histogram of the union
    val allRows = spark.read.schema("symbol STRING, price DOUBLE").json(src)
    val batchHist = HistogramMV.partialHistogram(
      allRows, "symbol", "price", Lo, Hi, Buckets, blockId = 0L)
      .select("key", "k", "cnt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val mergedHist = HistogramMV.merged(spark, partials)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(mergedHist == batchHist,
      s"merge-on-read drifted from the batch histogram:\n" +
        s"merged=$mergedHist\nbatch=$batchHist")

    // clamping: b's -5 landed in bucket 0, its 105 in bucket 9
    assert(mergedHist.contains(("b", 0L, 1L)) &&
      mergedHist.contains(("b", 9L, 1L)), s"edge clamp missing: $mergedHist")

    // quantiles: a has n=10 one-per-bucket values, so p50 targets rank 5
    // (bucket 4, its only member) -> est = lo + w*(4 + 1/1) = 50.0
    // exactly; true rank-5 value is 45, within the width-10 bound
    val q = HistogramMV.quantiles(spark, partials, Lo, Hi, Buckets,
      Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getDouble(2)) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    val (nA, estP50) = q(("a", 0.5))
    assert(nA == 10L)
    assert(estP50 == 50.0, s"p50 estimate $estP50, want 50.0")
    assert(math.abs(estP50 - 45.0) <= (Hi - Lo) / Buckets,
      "histogram bound violated")
    val (_, estP90) = q(("a", 0.9))
    // rank 9 -> bucket 8, est = 0 + 10*(8 + 1/1) = 90; true value 85
    assert(estP90 == 90.0, s"p90 estimate $estP90, want 90.0")

    // replay: re-writing block 0 REPLACES it (no double counting)
    val b1Rows = spark.read.schema("symbol STRING, price DOUBLE")
      .json(Paths.get(src, "b1.json").toString)
    HistogramMV.writeBlock(b1Rows, "symbol", "price", Lo, Hi, Buckets,
      partials, blockId = 0L)
    val replayed = HistogramMV.merged(spark, partials)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(replayed == mergedHist,
      s"replay double-counted:\n$replayed\nvs\n$mergedHist")
  }

  test("non-string keyType: a family probed before its first commit " +
    "carries the post-commit key type, and a union across the boundary " +
    "succeeds") {
    import org.apache.spark.sql.types.LongType
    val partials = tmpDir("hmv-long-partials")

    // probe BEFORE any block commit: the explicit keyType is the only
    // schema source, and it must already be the family's real key type
    val pre = HistogramMV.merged(spark, partials, keyType = LongType)
    assert(pre.schema("key").dataType == LongType,
      s"empty-store key type: ${pre.schema("key").dataType}")
    assert(pre.count() == 0L)
    val preQ = HistogramMV.quantiles(spark, partials, Lo, Hi, Buckets,
      Seq(0.5), keyType = LongType)
    assert(preQ.schema("key").dataType == LongType,
      s"empty-store quantile key type: ${preQ.schema("key").dataType}")
    assert(preQ.count() == 0L)

    // first block commit with a LONG key column
    val rows = spark.range(10).select(
      (col("id") % 2).as("uid"), (col("id") * 10.0 + 5.0).as("price"))
    HistogramMV.writeBlock(rows, "uid", "price", Lo, Hi, Buckets,
      partials, blockId = 0L)

    // the type must NOT flip at the first block (inference now comes
    // from the files; it has to agree with what keyType promised)
    val post = HistogramMV.merged(spark, partials, keyType = LongType)
    assert(post.schema("key").dataType == LongType,
      s"key type flipped at first block: ${post.schema("key").dataType}")
    // the downstream contract the parameter exists for: a frame built
    // before the commit unions cleanly with one built after
    assert(pre.unionByName(post).count() == post.count(),
      "pre/post-commit union changed cardinality")

    // quantiles ride the same keyType; both keys answer
    val q = HistogramMV.quantiles(spark, partials, Lo, Hi, Buckets,
      Seq(0.5), keyType = LongType).collect()
    assert(q.map(_.getLong(0)).toSet == Set(0L, 1L),
      s"long keys missing from quantiles: ${q.mkString(",")}")
  }
}
