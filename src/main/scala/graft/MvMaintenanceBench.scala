package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{AnnMV, IndexMV}

/** Long-horizon MV maintenance scenario at scale (r15; projection
  * family r17): drives ≥8 blocks of THREE streamed-MV store families
  * (the ANN inverted lists, the posting-list index, and the ingest-
  * maintained aggregate projection) through interleaved ingest →
  * compact → expire → compact cycles — the multi-day life of a continuously-fed
  * materialized view, which the unit suites exercise only at toy block
  * counts — and HASH-GATES the final merge-on-read against a batch
  * twin built from exactly the non-expired documents/vectors.
  *
  * Cycle per family (12 blocks, key = pmod(id, 12)):
  * ingest 0..3 → compact(≤3) → ingest 4,5 → expire(<4) [retires the
  * folded history; watermark 4] → ingest 6..8 → compact(≤7) [fold
  * spans the watermark boundary's survivors] → ingest 9..11 →
  * expire(<8) [retires a folded block — block granularity: rows 4..7
  * leave together] → compact(≤10) [the expiry watermark must survive
  * compaction] → replay block 5 [id < watermark ⇒ the sink-path gate
  * must DROP it, not resurrect retired data] → readback.
  *
  * The equality is content equality under an order-independent
  * checksum (count + unordered sum of per-row xxhash64), so it holds
  * at any scale without a driver-side collect of the store.
  *
  * Usage: runMain graft.MvMaintenanceBench <sfDir> — prints one JSON
  * line; throws (non-zero exit) on any readback mismatch or a replay
  * that resurrects expired rows.
  */
object MvMaintenanceBench {

  private val NumBlocks = 12
  private val K = 5 // posting-heap bound, same as docs_posting_lists_mv

  /** (row count, unordered sum of row hashes) — order-independent
    * content fingerprint computed distributively. The sum rides an
    * unbounded decimal: 2⁶³-magnitude hash values overflow a Long sum
    * under ANSI after a few thousand rows. */
  private def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val r = df
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  private def blockOf(idCol: String, i: Int) =
    pmod(col(idCol), lit(NumBlocks)) === i

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    // ---------- ANN inverted-list family ----------
    val t0 = System.nanoTime()
    val inv = graft.store.Store.scratchStore("mvmaint-ann")
    val cents = graft.queries.EmbQueries.centroidFrame(spark, sfDir)
      .select(col("label").as("clabel"), col("centroid"))
      .localCheckpoint()
    val vecs = Tables.embeddings(spark, sfDir)
    def vecBlock(i: Int) = vecs.where(blockOf("vec_id", i))
    (0 to 3).foreach(i => AnnMV.writeInvertedBlock(vecBlock(i), cents, inv, i))
    AnnMV.compactInverted(spark, inv, throughBlockId = 3L)
    (4 to 5).foreach(i => AnnMV.writeInvertedBlock(vecBlock(i), cents, inv, i))
    graft.store.BlockStore.expire(inv, beforeBlockId = 4L)
    (6 to 8).foreach(i => AnnMV.writeInvertedBlock(vecBlock(i), cents, inv, i))
    AnnMV.compactInverted(spark, inv, throughBlockId = 7L)
    (9 to 11).foreach(i => AnnMV.writeInvertedBlock(vecBlock(i), cents, inv, i))
    graft.store.BlockStore.expire(inv, beforeBlockId = 8L)
    AnnMV.compactInverted(spark, inv, throughBlockId = 10L)
    // at-least-once replay of a RETIRED batch: the watermark gate must
    // drop it (resurrection would corrupt the readback hash below) —
    // asserted directly on the store, not only through the hash: the
    // refused write must not even stage a block=5 dir
    AnnMV.writeInvertedBlock(vecBlock(5), cents, inv, 5L)
    require(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(inv, "block=5")),
      "ANN replay of a retired block resurrected its block dir")

    val annCols = Seq("vec_id", "label", "cell", "embedding")
    val retainedVecs = vecs.where(pmod(col("vec_id"), lit(NumBlocks)) >= 8)
    val annGot = checksum(AnnMV.inverted(spark, inv), annCols)
    val annWant = checksum(AnnMV.partialInverted(retainedVecs, cents)
      .select(col("vec_id"), col("label"), col("cell"), col("embedding")),
      annCols)
    val wallAnn = (System.nanoTime() - t0) / 1e9
    require(annGot == annWant,
      s"ANN maintenance readback mismatch: store=$annGot batch=$annWant")

    // ---------- posting-list index family ----------
    val t1 = System.nanoTime()
    val idx = graft.store.Store.scratchStore("mvmaint-idx")
    val docsDf = Tables.documents(spark, sfDir)
    def docBlock(i: Int) = docsDf.where(blockOf("doc_id", i))
    (0 to 3).foreach(i => IndexMV.writeBlock(docBlock(i), K, idx, i))
    IndexMV.compact(spark, idx, K, throughBlockId = 3L)
    (4 to 5).foreach(i => IndexMV.writeBlock(docBlock(i), K, idx, i))
    graft.store.BlockStore.expire(idx, beforeBlockId = 4L)
    (6 to 8).foreach(i => IndexMV.writeBlock(docBlock(i), K, idx, i))
    IndexMV.compact(spark, idx, K, throughBlockId = 7L)
    (9 to 11).foreach(i => IndexMV.writeBlock(docBlock(i), K, idx, i))
    graft.store.BlockStore.expire(idx, beforeBlockId = 8L)
    IndexMV.compact(spark, idx, K, throughBlockId = 10L)
    IndexMV.writeBlock(docBlock(5), K, idx, 5L) // replay of retired block
    require(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(idx, "block=5")),
      "index replay of a retired block resurrected its block dir")

    // batch twin: ONE block holding exactly the retained documents,
    // read through the same merged() fold — so the equality isolates
    // block decomposition + maintenance, not presentation
    val twin = graft.store.Store.scratchStore("mvmaint-idx-twin")
    val retainedDocs = docsDf.where(pmod(col("doc_id"), lit(NumBlocks)) >= 8)
    IndexMV.writeBlock(retainedDocs, K, twin, 0L)
    val idxCols = Seq("term", "df", "cf", "top_docs")
    val idxGot = checksum(IndexMV.merged(spark, idx, K), idxCols)
    val idxWant = checksum(IndexMV.merged(spark, twin, K), idxCols)
    val wallIdx = (System.nanoTime() - t1) / 1e9
    require(idxGot == idxWant,
      s"index maintenance readback mismatch: store=$idxGot batch=$idxWant")

    // ---------- ingest-maintained aggregate projection family (r17,
    // r16 verdict task 5: the per-block projection's probe scans
    // |symbols|·|blocks| partial rows — prove the maintenance horizon
    // bounds it by MEASURING probe wall against live block count
    // through the same 12-block lifecycle, and hash-gating the probe
    // across compaction/expiry/replay) ----------
    import graft.streaming.ProjectionMV
    val t2 = System.nanoTime()
    val proj = graft.store.Store.scratchStore("mvmaint-proj")
    val tradesDf = Tables.trades(spark, sfDir)
      .select(col("symbol"), col("qty"), col("trade_id"))
    def projBlock(i: Int) = tradesDf
      .where(blockOf("trade_id", i)).select("symbol", "qty")
    val probeCurve =
      scala.collection.mutable.ListBuffer.empty[(String, Int, Double)]
    def probePoint(label: String): Unit = {
      val live = graft.store.BlockStore.blockDirs(
        java.nio.file.Paths.get(proj).toAbsolutePath).size
      val t = System.nanoTime()
      ProjectionMV.probe(spark, proj).collect()
      probeCurve += ((label, live, (System.nanoTime() - t) / 1e9))
    }
    (0 to 3).foreach(i => ProjectionMV.writeBlock(projBlock(i), proj, i))
    probePoint("ingest0-3")
    ProjectionMV.compact(spark, proj, throughBlockId = 3L)
    probePoint("compact3")
    (4 to 5).foreach(i => ProjectionMV.writeBlock(projBlock(i), proj, i))
    graft.store.BlockStore.expire(proj, beforeBlockId = 4L)
    probePoint("expire4")
    (6 to 8).foreach(i => ProjectionMV.writeBlock(projBlock(i), proj, i))
    probePoint("ingest6-8")
    ProjectionMV.compact(spark, proj, throughBlockId = 7L)
    probePoint("compact7")
    (9 to 11).foreach(i => ProjectionMV.writeBlock(projBlock(i), proj, i))
    probePoint("ingest9-11")
    graft.store.BlockStore.expire(proj, beforeBlockId = 8L)
    ProjectionMV.compact(spark, proj, throughBlockId = 10L)
    probePoint("expire8+compact10")
    // replay of a retired block: refused for base AND projection
    require(!ProjectionMV.writeBlock(projBlock(5), proj, 5L),
      "projection replay of a retired block was accepted")
    require(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(proj, "block=5")),
      "projection replay of a retired block resurrected its block dir")

    // hash gate: the probe (projection partials ONLY) must equal the
    // batch aggregation over exactly the retained fact rows
    val retainedTrades = tradesDf
      .where(pmod(col("trade_id"), lit(NumBlocks)) >= 8).select("symbol", "qty")
    val projCols = Seq("symbol", "trades", "volume")
    val projGot = checksum(ProjectionMV.probe(spark, proj), projCols)
    val projWant = checksum(
      retainedTrades.groupBy("symbol")
        .agg(count(lit(1)).as("trades"),
          graft.ops.Ops.dsum(col("qty")).as("volume"))
        .orderBy("symbol"),
      projCols)
    val wallProj = (System.nanoTime() - t2) / 1e9
    require(projGot == projWant,
      s"projection maintenance readback mismatch: " +
        s"store=$projGot batch=$projWant")
    val curveJson = probeCurve.map { case (l, b, w) =>
      f"""{"step":"$l","live_blocks":$b,"probe_sec":$w%.3f}"""
    }.mkString("[", ",", "]")

    println(s"""{"metric":"mv_maintenance","sf_dir":"$sfDir"""" +
      s""","blocks":$NumBlocks,"compactions":3,"expirations":2""" +
      s""","replays_dropped":3,"ann_rows":${annGot._1}""" +
      f""","ann_match":true,"idx_terms":${idxGot._1},"idx_match":true""" +
      s""","proj_symbols":${projGot._1},"proj_match":true""" +
      s""","proj_probe_curve":$curveJson""" +
      f""","wall_ann_sec":$wallAnn%.2f,"wall_idx_sec":$wallIdx%.2f""" +
      f""","wall_proj_sec":$wallProj%.2f}""")
    spark.stop()
  }
}
