package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.store.BlockStore
import graft.streaming.HeavyHitters

/** Streaming MG sketch store: per-batch partials, cross-batch merge
  * bounds, candidate completeness, replay replacement, and the
  * batch-count accounting edge cases. */
class HeavyHittersSpec extends SparkSpec {

  private def eventJson(id: Long, user: Long): String =
    s"""{"event_id":$id,"user_id":$user}"""

  private def eventStream(dir: String) =
    spark.readStream
      .schema("event_id LONG, user_id LONG")
      .json(dir)

  test("streamed sketch: bounds bracket exact counts, heavy set complete") {
    val src = tmpDir("hh-src")
    val partials = tmpDir("hh-partials")
    val ckpt = tmpDir("hh-ckpt")
    val k = 4

    // delivery 1: user 1 heavy (60), users 100-119 singletons
    var id = 0L
    def rows(user: Long, n: Int): Seq[String] =
      (1 to n).map { _ => id += 1; eventJson(id, user) }
    Files.writeString(Paths.get(src, "b1.json"),
      (rows(1L, 60) ++ (100L to 119L).flatMap(rows(_, 1))).mkString("\n"))
    assert(BlockStore.sink(eventStream(src), partials, ckpt,
      Trigger.AvailableNow())(HeavyHitters.stage(_, "user_id", k))
      .awaitTermination(120000),
      "delivery 1 did not finish")

    // delivery 2: user 2 surges (50), user 1 keeps going (20), more noise
    Files.writeString(Paths.get(src, "b2.json"),
      (rows(2L, 50) ++ rows(1L, 20) ++ (200L to 219L).flatMap(rows(_, 1)))
        .mkString("\n"))
    assert(BlockStore.sink(eventStream(src), partials, ckpt,
      Trigger.AvailableNow())(HeavyHitters.stage(_, "user_id", k))
      .awaitTermination(120000),
      "delivery 2 did not finish")

    val n = HeavyHitters.totalN(spark.read.parquet(partials))
    assert(n == id, s"totalN=$n, streamed=$id")

    val cand = HeavyHitters.candidates(spark, partials, k, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact counts: user1=80, user2=50; n=170, frac 0.25 → 42.5
    val exact = Map(1L -> 80L, 2L -> 50L)
    exact.foreach { case (u, c) =>
      val row = cand.find(_._1 == u)
      assert(row.isDefined, s"true heavy hitter $u missing from $cand")
      val (_, lb, ub) = row.get
      assert(lb <= c, s"user $u: lower bound $lb overcounts true $c")
      assert(ub >= c, s"user $u: upper bound $ub undercounts true $c")
    }
  }

  test("replayed block REPLACES its previous write (last write wins)") {
    import spark.implicits._
    val partials = tmpDir("hh-replay")
    val k = 4

    val first: Seq[Long] = Seq.fill(30)(7L) ++ (100L to 109L)
    HeavyHitters.writeBlock(first.toDF("user_id"), "user_id", k, partials, 0L)
    // the at-least-once double-fire recomputes the batch; simulate a
    // recomputation whose summary differs (different partial-merge
    // order → different sub-threshold survivors / counters)
    val replay: Seq[Long] = Seq.fill(30)(7L) ++ (100L to 109L)
    HeavyHitters.writeBlock(
      replay.reverse.toDF("user_id"), "user_id", k, partials, 0L)

    val stored = spark.read.parquet(partials)
    // one consistent view: a single block, at most k+ null rows, and n
    // counted exactly once
    assert(stored.select("block").distinct().count() == 1)
    assert(stored.where(col("item").isNotNull).count() <= k)
    assert(HeavyHitters.totalN(stored) == first.size)
    // the guaranteed-heavy item survives whichever write won
    val cand = HeavyHitters.candidates(spark, partials, k, 0.5)
      .collect().map(_.getLong(0))
    assert(cand.contains(7L))
  }

  test("a batch with only null items still contributes its batch_n") {
    import spark.implicits._
    val partials = tmpDir("hh-nulls")
    val k = 4
    HeavyHitters.writeBlock(
      Seq.fill(25)(Option.empty[Long]).toDF("user_id"),
      "user_id", k, partials, 0L)
    HeavyHitters.writeBlock(
      (Seq.fill(10)(Some(1L)) ++ Seq.fill(5)(Option.empty[Long]))
        .toDF("user_id"),
      "user_id", k, partials, 1L)
    val stored = spark.read.parquet(partials)
    assert(HeavyHitters.totalN(stored) == 40,
      "all-null batch lost its batch_n")
    val cand = HeavyHitters.candidates(spark, partials, k, 0.21)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSeq == Seq((1L, 10L)))
  }

  test("null-heavy stream: non-null slack strictly shrinks the " +
    "candidate set, same true answers") {
    import spark.implicits._
    val partials = tmpDir("hh-tight")
    val k = 4
    // block 0: one genuinely heavy item among mostly-null rows; with a
    // single distinct item the MG counter is exact (no decrements)
    HeavyHitters.writeBlock(
      (Seq.fill(25)(Some(7L)) ++ Seq.fill(70)(Option.empty[Long]))
        .toDF("user_id"),
      "user_id", k, partials, 0L)
    // block 1: exactly k distinct items → no decrements, exact counters;
    // item 9 is the borderline the loose slack would wrongly admit
    HeavyHitters.writeBlock(
      (Seq.fill(4)(9L) ++ Seq(10L, 11L, 12L)).toDF("user_id"),
      "user_id", k, partials, 1L)

    val stored = spark.read.parquet(partials)
    val n = HeavyHitters.totalN(stored) // 102 rows
    val nn = HeavyHitters.totalNonNull(stored) // 32 non-null
    assert(n == 102 && nn == 32, s"n=$n nn=$nn")

    val frac = 0.21
    val cand = HeavyHitters.candidates(spark, partials, k, frac)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // tight slack 32/5 = 6.4: only the true heavy hitter qualifies
    // (7: lb 25, ub 31.4 > 21.42), with an exact lower bound
    assert(cand.map(_._1).toSeq == Seq(7L), s"tight candidates: ${cand.toSeq}")
    assert(cand.head._2 == 25L)

    // the OLD all-rows slack (n/(k+1) = 20.4) would have admitted the
    // borderline item 9 (lb 4, loose ub 24.4 > 21.42): recompute the
    // loose set from the same store and show the tightening is strict
    val looseSlack = n.toDouble / (k + 1)
    val loose = stored
      .where(col("item").isNotNull)
      .groupBy("item").agg(sum("cnt").as("cnt_lb"))
      .where(col("cnt_lb") + looseSlack > frac * n)
      .collect().map(_.getLong(0)).toSet
    assert(loose.contains(7L) && loose.contains(9L),
      s"loose set should admit the borderline item: $loose")
    assert(cand.map(_._1).toSet.subsetOf(loose) && cand.size < loose.size,
      "tight set is not a strict subset of the loose set")
  }

  test("a store probed before its first block has no candidates; expired " +
      "blocks are not read") {
    import spark.implicits._
    val partials = tmpDir("hh-empty")
    val k = 4
    assert(HeavyHitters.candidates(spark, partials, k, 0.5).collect().isEmpty)

    HeavyHitters.writeBlock(Seq.fill(30)(7L).toDF("user_id"), "user_id", k, partials, 0L)
    HeavyHitters.writeBlock(Seq.fill(30)(8L).toDF("user_id"), "user_id", k, partials, 1L)
    BlockStore.expire(partials, beforeBlockId = 1L)
    val cand = HeavyHitters.candidates(spark, partials, k, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSeq == Seq((8L, 30L)), s"candidates over the live block: ${cand.toSeq}")
  }

  test("noise floor: frac at or below 1/(k+1) is rejected") {
    intercept[IllegalArgumentException] {
      HeavyHitters.candidates(spark, "/nonexistent", 4, 0.2)
    }
  }
}
