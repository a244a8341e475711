package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.DocQueries
import graft.store.BlockStore
import graft.streaming.DedupMV

/** Streaming near-dup index MV: merged candidate pairs equal the batch
  * LSH candidates over the same corpus, the probe gate flags new docs
  * against the persisted index, compaction folds losslessly, and the
  * pair generator never reads document text. */
class DedupMVSpec extends SparkSpec {

  private def docJson(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text"}"""

  private def docStream(dir: String) =
    spark.readStream.schema("doc_id LONG, text STRING").json(dir)

  private def readDocs(srcDir: String) =
    spark.read.schema("doc_id LONG, text STRING").json(srcDir)

  /** The batch candidates the MV must converge to — the registered
    * docs_minhash_pairs lineage over ALL delivered docs. */
  private def batchCand(srcDir: String) =
    collectPairs(DocQueries.minhashCandPairs(
      DocQueries.shingleFrame(readDocs(srcDir))))

  private def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  // near-dup cliques: docs 1/2 share all but one token, 3 is disjoint,
  // 4 (batch 2) near-dups 1 and 2, 5 is short (no shingles, no bands)
  private val d1 = "alpha beta gamma delta epsilon zeta"
  private val d2 = "alpha beta gamma delta epsilon eta"
  private val d3 = "one two three four five six seven"
  private val d4 = "alpha beta gamma delta epsilon zeta"
  private val d5 = "tiny doc"

  test("merged streaming blocks == batch LSH candidates; cross-batch " +
    "pairs surface after the second delivery") {
    val src = tmpDir("dmv-src")
    val partials = tmpDir("dmv-partials")
    val ckpt = tmpDir("dmv-ckpt")

    Files.writeString(Paths.get(src, "b1.json"), Seq(
      docJson(1, d1), docJson(2, d2), docJson(3, d3)).mkString("\n"))
    assert(BlockStore.sink(docStream(src), partials, ckpt,
      Trigger.AvailableNow())(DedupMV.stage)
      .awaitTermination(120000))
    val after1 = collectPairs(DedupMV.candidates(spark, partials))
    assert(after1 == batchCand(src))
    assert(after1.contains((1L, 2L)), "near-dup pair missing")

    // second delivery: doc 4 must pair with batch-1 docs — the
    // cross-batch case is the point of the MV
    Files.writeString(Paths.get(src, "b2.json"), Seq(
      docJson(4, d4), docJson(5, d5)).mkString("\n"))
    assert(BlockStore.sink(docStream(src), partials, ckpt,
      Trigger.AvailableNow())(DedupMV.stage)
      .awaitTermination(120000))
    val after2 = collectPairs(DedupMV.candidates(spark, partials))
    assert(after2 == batchCand(src))
    assert(after2.contains((1L, 4L)) && after2.contains((2L, 4L)),
      "cross-batch candidate pairs missing")
    // the short doc has no bands and appears in no pair
    assert(!after2.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("probe flags a new batch against the persisted index without " +
    "indexing it; first-seen id wins") {
    val src = tmpDir("dmv-probe-src")
    val partials = tmpDir("dmv-probe-partials")
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      docJson(1, d1), docJson(2, d2), docJson(3, d3)).mkString("\n"))
    DedupMV.writeBlock(readDocs(src), partials, blockId = 0L)

    val incoming = spark.createDataFrame(Seq(
      (10L, d4), // dup of 1 and 2 → dup_of = 1 (first seen)
      (11L, "totally different words here now ok"),
      (12L, d5)  // short: no bands, can't be flagged
    )).toDF("doc_id", "text")
    val decisions = DedupMV.probe(spark, partials, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(decisions == Map(10L -> 1L))
  }

  test("compaction folds old blocks into one; candidates identical; a " +
    "replayed newer block still replaces; torn replay cannot " +
    "fabricate pairs") {
    val src = tmpDir("dmv-compact-src")
    val partials = tmpDir("dmv-compact-partials")
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> d1, 2L -> d2), Seq(3L -> d3), Seq(4L -> d4, 5L -> d5))
    batches.zipWithIndex.foreach { case (docs, i) =>
      Files.writeString(Paths.get(src, s"b$i.json"),
        docs.map { case (id, t) => docJson(id, t) }.mkString("\n"))
      DedupMV.writeBlock(
        readDocs(src).where(col("doc_id").isin(docs.map(_._1): _*)),
        partials, blockId = i.toLong)
    }
    val before = collectPairs(DedupMV.candidates(spark, partials))
    assert(before.contains((1L, 4L)))

    DedupMV.compact(spark, partials, throughBlockId = 1L)
    val blockNames = {
      val s = Files.list(Paths.get(partials))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.startsWith("block=")).toSet
      finally s.close()
    }
    assert(blockNames == Set("block=1", "block=2"),
      s"expected fold + retained block, got $blockNames")
    assert(collectPairs(DedupMV.candidates(spark, partials)) == before)

    // at-least-once redelivery of the newest batch replaces losslessly
    DedupMV.writeBlock(readDocs(src).where(col("doc_id").isin(4L, 5L)),
      partials, blockId = 2L)
    assert(collectPairs(DedupMV.candidates(spark, partials)) == before)

    // torn replay: the same doc's bands visible in TWO blocks at once
    // (mid-replace crash window) must not fabricate self-pairs or
    // change the candidate set — the dedupBands guard
    DedupMV.writeBlock(readDocs(src).where(col("doc_id") === 4L),
      partials, blockId = 9L)
    val torn = collectPairs(DedupMV.candidates(spark, partials))
    assert(torn == before, "duplicated bands changed the candidate set")
  }

  test("online ingest gate: probe-then-index per batch flags arrivals " +
    "against everything seen before, first-seen id wins") {
    val partials = tmpDir("dmv-gate")
    def docsDf(rows: Seq[(Long, String)]) =
      spark.createDataFrame(rows).toDF("doc_id", "text")
    // the production ingest loop: each batch is probed against the
    // accumulated index BEFORE being indexed itself (batch 0 has
    // nothing to probe against)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> d1, 3L -> d3),
      Seq(2L -> d2),  // near-dup of doc 1 → flagged at arrival
      Seq(4L -> d4))  // exact dup of doc 1 → flagged at arrival
    val decisions = scala.collection.mutable.Map.empty[Long, Long]
    batches.zipWithIndex.foreach { case (rows, i) =>
      val df = docsDf(rows)
      if (i > 0)
        DedupMV.probe(spark, partials, df).collect()
          .foreach(r => decisions(r.getLong(0)) = r.getLong(1))
      DedupMV.writeBlock(df, partials, blockId = i.toLong)
    }
    assert(decisions == Map(2L -> 1L, 4L -> 1L))
  }

  test("survivors-only indexing keeps a size-m dup clique O(m): each " +
    "later copy yields ONE candidate, and dup_of is the first copy") {
    val partials = tmpDir("dmv-clique")
    def docsDf(rows: Seq[(Long, String)]) =
      spark.createDataFrame(rows).toDF("doc_id", "text")
    // m=12 exact copies over 4 blocks; the gate indexes survivors only
    // (block 0 after in-batch dedup keeps doc 1; every later copy is a
    // verified dup and never indexed), so each later copy sees exactly
    // one candidate — the first-kept copy
    val clique = (1L to 12L).map(_ -> d1)
    var totalCandidates = 0L
    clique.grouped(3).zipWithIndex.foreach { case (rows, b) =>
      val df = docsDf(rows)
      if (b > 0) {
        val cand = DedupMV.probeCandidates(spark, partials, df).collect()
        totalCandidates += cand.length
        assert(cand.forall(_.getLong(1) == 1L),
          "candidate seen_id is not the first-kept copy")
        // all verified dups (exact copies): none survive, nothing indexed
      } else DedupMV.writeBlock(df.where(col("doc_id") === 1L), partials, 0L)
    }
    // 9 later copies × exactly 1 candidate each — an unguarded index
    // would have produced 3+6+9 = 18 within-prefix pairs and grown
    // quadratically with m
    assert(totalCandidates == 9L,
      s"clique candidate fan-out is not O(m): $totalCandidates")
  }

  test("a too-high throughBlockId cannot park folded history under a " +
    "future batch's block id") {
    val src = tmpDir("dmv-foot-src")
    val partials = tmpDir("dmv-foot-partials")
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      docJson(1, d1), docJson(2, d2), docJson(3, d3)).mkString("\n"))
    val all = readDocs(src)
    DedupMV.writeBlock(all.where(col("doc_id") === 1L), partials, 0L)
    DedupMV.writeBlock(all.where(col("doc_id") === 2L), partials, 1L)
    val before = collectPairs(DedupMV.candidates(spark, partials))

    // the classic off-by-one: the caller passes the NEWEST batch id
    // (2, not yet delivered) instead of newest-1 — the fold must land
    // under the highest ABSORBED id (1), which is committed and so can
    // never be replaced by a later batch
    DedupMV.compact(spark, partials, throughBlockId = 2L)
    val blockNames = graft.store.BlockStore.blockDirs(Paths.get(partials))
      .map(_.getFileName.toString).toSet
    assert(blockNames == Set("block=1"),
      s"fold parked under a foldable-future id: $blockNames")

    // batch 2 now arrives: it must ADD, not silently destroy the fold
    DedupMV.writeBlock(all.where(col("doc_id") === 3L), partials, 2L)
    val after = collectPairs(DedupMV.candidates(spark, partials))
    assert(after == before, // doc 3 is disjoint; pair set unchanged
      "history lost: a later batch replaced the folded block")
  }

  test("candidate generation reads only the band partials — no text " +
    "column in any scan") {
    val src = tmpDir("dmv-plan-src")
    val partials = tmpDir("dmv-plan-partials")
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      docJson(1, d1), docJson(2, d2)).mkString("\n"))
    DedupMV.writeBlock(readDocs(src), partials, blockId = 0L)
    val plan = DedupMV.candidates(spark, partials)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("text"), "candidate read touched document text")
  }
}
