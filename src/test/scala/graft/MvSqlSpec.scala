package graft

import org.apache.spark.sql.functions._

import graft.store.BlockStore
import graft.streaming.{AnnMV, DedupMV, HistogramMV, IndexMV}

/** `graft_mv_read` — the SQL surface over the streaming-MV block
  * stores (store/MvSql.scala): each kind resolves to the SAME plan as
  * its Scala readback (values compared literally), the inverted-list
  * kind keeps the cell partition prune through the SQL spelling, reads
  * are empty-safe before the first block commit, and malformed calls
  * fail with the argument errors, not analysis noise. */
class MvSqlSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def sql1(q: String) = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(q)
  }

  test("kind 'index': SQL readback equals IndexMV.merged row-for-row " +
    "across blocks and compaction") {
    val partials = tmpDir("mvsql-idx")
    val corpus = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta epsilon"),
      (3L, "beta beta zeta alpha"))
    corpus.zipWithIndex.foreach { case ((id, text), b) =>
      IndexMV.writeBlock(docsDf((id, text)), 5, partials, blockId = b.toLong)
    }
    IndexMV.compact(spark, partials, 5, throughBlockId = 1L)
    val viaSql = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'index', 5)" +
        " ORDER BY df DESC, term")
    val viaScala = IndexMV.merged(spark, partials, 5)
      .orderBy(col("df").desc, col("term"))
    assert(viaSql.columns.toSeq == Seq("term", "df", "cf", "top_docs"))
    val got = viaSql.collect().map(_.toString).toSeq
    assert(got == viaScala.collect().map(_.toString).toSeq)
    assert(got.nonEmpty)
  }

  test("kind 'dedup_bands'/'dedup_candidates': SQL equals the Scala " +
    "merge-on-read over the same blocks") {
    val partials = tmpDir("mvsql-dedup")
    DedupMV.writeBlock(docsDf(
      (1L, "one two three four five six"),
      (2L, "one two three four five six")), partials, blockId = 0L)
    DedupMV.writeBlock(docsDf(
      (3L, "one two three four five six"),
      (4L, "something else entirely here now then")), partials, blockId = 1L)
    val bandsSql = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'dedup_bands')" +
        " ORDER BY doc_id, band")
    assert(bandsSql.collect().map(_.toString).toSeq ==
      DedupMV.bands(spark, partials).orderBy("doc_id", "band")
        .collect().map(_.toString).toSeq)
    val candSql = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'dedup_candidates')" +
        " ORDER BY doc_a, doc_b")
    val cand = candSql.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cand == DedupMV.candidates(spark, partials)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // the cross-block duplicate pair is visible through SQL
    assert(cand.contains((1L, 3L)))
  }

  test("kind 'ann_inverted': a WHERE cell = … through the SQL surface " +
    "still partition-prunes the store files") {
    import spark.implicits._
    val inverted = tmpDir("mvsql-ann")
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("clabel", "centroid")
    AnnMV.writeInvertedBlock(
      Seq((1L, 9L, Seq(1f, 1f)), (2L, 9L, Seq(9f, 9f)))
        .toDF("vec_id", "label", "embedding"),
      cents, inverted, blockId = 0L)
    AnnMV.writeInvertedBlock(
      Seq((3L, 9L, Seq(0f, 2f)), (4L, 9L, Seq(11f, 12f)))
        .toDF("vec_id", "label", "embedding"),
      cents, inverted, blockId = 1L)
    val df = sql1(
      s"SELECT vec_id FROM graft_mv_read('$inverted', 'ann_inverted')" +
        " WHERE cell = 0 ORDER BY vec_id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      "SQL spelling lost the cell partition filter:\n" + p)
    // 2 blocks × 2 cells = 4 files on disk; the prune reads only cell=0
    val (files, _) = graft.store.ScanStats.totals(df)
    assert(files == 2, s"expected 2 files after cell pruning, read $files")
  }

  test("kind 'histogram': SQL equals HistogramMV.merged, and an " +
    "empty store reads as zero rows (not an inference error)") {
    import spark.implicits._
    val partials = tmpDir("mvsql-hist")
    HistogramMV.writeBlock(
      Seq(("a", 1.0), ("a", 2.0), ("b", 9.0)).toDF("sym", "v"),
      "sym", "v", lo = 0.0, hi = 10.0, buckets = 5,
      partialsPath = partials, blockId = 0L)
    val got = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'histogram')" +
        " ORDER BY key, k").collect().map(_.toString).toSeq
    assert(got == HistogramMV.merged(spark, partials)
      .orderBy("key", "k").collect().map(_.toString).toSeq)
    assert(got.nonEmpty)
    val empty = tmpDir("mvsql-hist-empty")
    assert(sql1(
      s"SELECT * FROM graft_mv_read('$empty', 'histogram')").count() == 0)
  }

  test("kind 'histogram' keyType argument: a non-string-keyed family " +
    "probed via SQL before its first commit keeps its key type across " +
    "the first block boundary") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val partials = tmpDir("mvsql-hist-long")
    // probe BEFORE any commit: the SQL spelling must carry the declared
    // key type, exactly like the Scala readback's keyType parameter
    val pre = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'histogram', 'bigint')")
    assert(pre.schema("key").dataType == LongType,
      s"empty-store SQL key type: ${pre.schema("key").dataType}")
    assert(pre.count() == 0L)
    HistogramMV.writeBlock(
      Seq((7L, 1.0), (7L, 2.0), (9L, 9.0)).toDF("uid", "v"),
      "uid", "v", lo = 0.0, hi = 10.0, buckets = 5,
      partialsPath = partials, blockId = 0L)
    val post = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'histogram', 'bigint')")
    assert(post.schema("key").dataType == LongType,
      s"SQL key type flipped at first block: ${post.schema("key").dataType}")
    assert(post.count() == 3L)
    assert(post.collect().map(_.getLong(0)).toSet == Set(7L, 9L))
  }

  test("kind 'candles': SQL equals readCandles over the partial-candle " +
    "block store; a replayed block replaces its first write") {
    import spark.implicits._
    import graft.streaming.CandlePipeline
    val partials = tmpDir("mvsql-candles")
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 10:00:01")
    val t1 = java.sql.Timestamp.valueOf("2024-01-10 10:00:40")
    val t2 = java.sql.Timestamp.valueOf("2024-01-10 10:01:05")
    def tradesDf(rows: Seq[(java.sql.Timestamp, String, Double, Double)]) =
      rows.toDF("ts", "symbol", "price", "qty")
    val b0 = tradesDf(Seq((t0, "btc", 100.0, 1.5), (t1, "btc", 101.0, 2.0)))
    val b1 = tradesDf(Seq((t2, "btc", 99.0, 1.0), (t0, "eth", 10.0, 3.0)))
    BlockStore.writeBlock(partials, 0L)(CandlePipeline.stage(b0))
    BlockStore.writeBlock(partials, 1L)(CandlePipeline.stage(b1))
    // at-least-once replay: block 1 is written again
    BlockStore.writeBlock(partials, 1L)(CandlePipeline.stage(b1))
    assert(spark.read.parquet(s"$partials/block=1").count() == 2L)
    val viaSql = sql1(
      s"SELECT * FROM graft_mv_read('$partials', 'candles')" +
        " ORDER BY minute, symbol")
    assert(viaSql.columns.toSeq == Seq("minute", "symbol", "open", "high",
      "low", "close", "volume", "trades"))
    val got = viaSql.collect().map(_.toString).toSeq
    assert(got == CandlePipeline.readCandles(spark.read.parquet(partials))
      .orderBy("minute", "symbol").collect().map(_.toString).toSeq)
    // the replayed block replaced its first write: eth minute 10:00, in
    // block 1 only, keeps volume 3.0 over 1 trade
    val eth = viaSql.collect().find(r => r.getString(1) == "eth" &&
      r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-01-10 10:00:00"))
      .get
    assert(eth.getDouble(6) == 3.0 && eth.getLong(7) == 1L)
  }

  test("every kind is empty-safe before the first block commit") {
    val empty = tmpDir("mvsql-empty")
    graft.store.MvSql.kinds.foreach { kind =>
      val k = if (kind == "index") ", 5" else ""
      assert(sql1(
        s"SELECT * FROM graft_mv_read('$empty', '$kind'$k)").count() == 0,
        s"kind '$kind' is not empty-safe")
    }
  }

  test("malformed calls fail with the argument errors") {
    def fails(q: String, needle: String): Unit = {
      val e = intercept[Exception](sql1(q).collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(needle)),
        s"expected '$needle' failure, got: $e")
    }
    fails("SELECT * FROM graft_mv_read('/tmp/x', 'nope')", "unknown kind")
    fails("SELECT * FROM graft_mv_read('/tmp/x', 'dedup_bands', 5)",
      "third argument is k (integer) for kind 'index'")
    fails("SELECT * FROM graft_mv_read('/tmp/x', 'index', 'bigint')",
      "third argument is k (integer) for kind 'index'")
    fails("SELECT * FROM graft_mv_read('/tmp/x')", "expects (path, kind)")
  }
}
