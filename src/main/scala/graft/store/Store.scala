package graft.store

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Ops

/** Storage layout & lifecycle: the engine-side equivalents of the
  * reference's table DDL, partitioning, sort key, TTL and migration
  * runner (reference: sql/V1__create_trades_table.sql, src/migrate.py).
  *
  * Layout contract (SURVEY.md §1.1):
  *  - monthly partitions: `PARTITION BY toYYYYMM(ts)` →
  *    `partitionBy("month")` with `month = date_format(ts,'yyyyMM')`;
  *    Catalyst prunes partitions for free when queries filter on `month`.
  *  - sorted-within-partition layout: `ORDER BY (ts, symbol, trade_id)` →
  *    `sortWithinPartitions` before write; Parquet row-group min/max
  *    stats then give the sparse-index granule-skipping effect.
  *  - TTL 90 days → [[retention]], a partition-drop maintenance job
  *    (cheap metadata deletes, never a row-level scan).
  */
object Store {

  /** T5 + S4: partitioned, sorted trades writer. `repartition` by month
    * keeps one shuffle partition per month-partition so each output
    * partition is written by one task as a few large, fully sorted files
    * (many small sorted files would dilute row-group stats).
    *
    * @param writersPerMonth at 100 TB, spread a hot month over this many
    *   writer tasks (a deterministic trade_id bucket joins the
    *   repartition key). More writers = more files per month, each still
    *   internally (ts, symbol, trade_id)-sorted; readers are unaffected
    *   (parquet merges row groups, `readTradesSince` prunes the same).
    *   The file count per month is a BEST-EFFORT bound in [1, n]: the
    *   n (month, bucket) combos map through Murmur3 onto 16n shuffle
    *   slots, so two combos share a slot with probability ≈ n/32
    *   (fewer, larger files — skew recovery degrades gracefully), and
    *   all n collapsing to one file needs a 1/(16n)^(n-1) coincidence.
    *   Deterministic for fixed data + Spark version (Murmur3 is stable),
    *   so StoreSpec's multi-file assertion is repeatable, not flaky. An
    *   exact-count design (bucket as a second partitionBy dir) was
    *   rejected: it changes the on-disk layout every existing reader
    *   globs (month=* gaining a nested bucket=* level) to tighten a
    *   bound that only needs to be approximate.
    *   This is not only write parallelism: it was measured (COVERAGE.md
    *   "Join skew under AQE, measured") that AQE can only split a skewed reduce partition at
    *   MAP-output boundaries — a month written as one giant file is ONE
    *   map task downstream, so a hot month becomes unrecoverable join
    *   skew. Bounded file counts at write time are what keep runtime
    *   skew recovery possible later. */
  def writeTrades(trades: DataFrame, path: String,
                  mode: SaveMode = SaveMode.Append,
                  writersPerMonth: Int = 1): Unit =
    trades
      .withColumn("month", Ops.monthKey(col("ts")))
      .transform { t =>
        if (writersPerMonth > 1)
          // explicit partition count: a bare repartition(cols) is
          // AQE-coalescable and small months would collapse back to one
          // writer; the over-allocation only thins hash collisions
          // between (month, bucket) combos, empty partitions write
          // nothing. Files per month stays <= writersPerMonth.
          t.repartition(writersPerMonth * 16, col("month"),
            pmod(col("trade_id"), lit(writersPerMonth)))
        else t.repartition(col("month"))
      }
      // month MUST lead the sort: FileFormatWriter requires its input
      // ordered by the partition columns and would otherwise insert its
      // own sort-by-month, destroying the (ts, symbol, trade_id) order.
      .sortWithinPartitions("month", "ts", "symbol", "trade_id")
      .write
      .mode(mode)
      .option("compression", "zstd")
      .partitionBy("month")
      .parquet(path)

  /** Stream-safe recursive delete / directory listing (Files.walk/list
    * hold an open directory fd until closed — leaking one per micro-batch
    * would exhaust the process fd limit on a long-lived stream). */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private[graft] def deleteRecursivelyIfExists(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) deleteRecursively(p)
  }

  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // per-sub allocation history (newest last) for the in-flight sweep
  private val scratchBySub =
    scala.collection.mutable.Map.empty[String, List[String]]
  private val scratchHookInstalled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A unique scratch store directory under `target/<sub>`, swept at
    * JVM exit by ONE process-wide shutdown hook — the store-building
    * queries (`trades_zoned_scan`, `docs_*_mv`, `emb_ivf_streamed`)
    * run per verify/bench invocation, and a per-invocation hook would
    * accumulate a live Thread for every run of a long-lived session.
    * The hook deletes ONLY this JVM's own stores (never the shared
    * root): stores are read lazily by the returned DataFrames and a
    * concurrent JVM's store under the same root must survive this
    * process' exit.
    *
    * Disk growth is bounded IN-FLIGHT, not only at exit: each
    * allocation for a `sub` sweeps this JVM's own older dirs for that
    * sub, KEEPING the two newest — the previous allocation may still
    * back a lazily-read DataFrame a concurrently-running suite holds
    * (sbt runs suites in parallel), so the newest-1 survives one more
    * allocation; anything older has had two full query builds complete
    * after it and is dead. Keep-2 alone is not airtight under suite
    * PARALLELISM (three concurrent allocations could sweep a store a
    * still-unread DataFrame backs), so the sweep additionally spares
    * any dir younger than [[ScratchMinAgeMs]]. The age check is a
    * HEURISTIC, not a guarantee: it reads the dir's mtime, which only
    * direct-child writes refresh — lazy READS never bump it, so a
    * DataFrame held unread for longer than the window can still have
    * its backing store swept. Callers holding a frame across that much
    * wall-clock must localCheckpoint it (every registered query acts
    * on its stores within seconds of building them). A
    * long-lived session re-running the store-building queries
    * therefore plateaus at ~2 stores per family instead of one per
    * invocation. */
  private[graft] val ScratchMinAgeMs: Long = 15 * 60 * 1000L

  /** Root for scratch stores. Default: a RAM-backed tmpfs when one is
    * available (`/dev/shm` — streaming checkpoints fsync many small
    * files per micro-batch and the commit protocol renames per block;
    * on ext4 those journal, on tmpfs they are memory ops — the local
    * stand-in for the fast local NVMe scratch a production node gives
    * its executors), else `target` as before. `SPARK_GRAFT_SCRATCH_DIR`
    * overrides both (set it to `target` to reproduce the pre-r17
    * on-disk layout, or to a disk path when scratch outgrows RAM).
    * Scratch contents are per-run intermediates rebuilt from the
    * parquet inputs on every invocation — nothing cross-run lives
    * here (the sweep + shutdown hook below delete this JVM's dirs). */
  private[graft] val scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", {
      val shm = Paths.get("/dev/shm")
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        "/dev/shm/graft-scratch"
      else "target"
    })

  private[graft] def scratchStore(sub: String): String = {
    val root = Paths.get(scratchRoot, sub)
    Files.createDirectories(root)
    val dir = Files.createTempDirectory(root, "store-").toString
    scratchDirs.add(dir)
    scratchBySub.synchronized {
      val kept = scratchBySub.getOrElse(sub, Nil) :+ dir
      val cutoff = System.currentTimeMillis() - ScratchMinAgeMs
      val (old, live) = kept.splitAt((kept.size - 2).max(0))
      val (dead, spared) = old.partition { d =>
        try Files.getLastModifiedTime(Paths.get(d)).toMillis < cutoff
        catch { case _: Exception => true } // already gone: sweep entry
      }
      scratchBySub(sub) = spared ++ live
      dead.foreach { d =>
        scratchDirs.remove(d)
        try deleteScratchWithSidecars(d)
        catch { case _: Exception => () }
      }
    }
    if (scratchHookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scratchDirs.forEach(d =>
          try deleteScratchWithSidecars(d)
          catch { case _: Exception => () })))
    dir
  }

  /** Sweep a dead scratch store AND the maintenance droppings a
    * compact/expire on it left NEXT TO it (the lease machinery's
    * sidecars via [[BlockStore.isMaintenanceSidecar]] — the single
    * source of that naming scheme — plus this file's own
    * `.old_`/`.stage_` swap leftovers): the store dir alone is what
    * the sweeper used to delete, which leaked one epoch sidecar per
    * store-building query run — dozens of small files per bench
    * capture, unbounded across rounds. Swap-leftover matching is
    * exact-or-`_`-separated, NOT a bare prefix: `createTempDirectory`
    * mints variable-length names, so sweeping dead `store-123` with a
    * bare prefix could delete live sibling `store-1234`'s in-flight
    * `.stage_store-1234…` dir mid-compact. */
  private def deleteScratchWithSidecars(d: String): Unit = {
    deleteRecursivelyIfExists(d)
    val p = Paths.get(d)
    val name = p.getFileName.toString
    val parent = p.getParent
    if (parent != null && Files.isDirectory(parent))
      listDir(parent).foreach { s =>
        val n = s.getFileName.toString
        val sidecar = BlockStore.isMaintenanceSidecar(name, n) ||
          n == s".old_$name" || n == s".stage_$name" ||
          n.startsWith(s".stage_${name}_")
        if (sidecar)
          try deleteRecursively(s) catch { case _: Exception => () }
      }
  }

  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  /** Persist the table schema next to the data (`_schema.json`) so an
    * EMPTY bootstrapped table is readable — a zero-row partitioned write
    * emits no parquet files, leaving nothing to infer a schema from. */
  def writeSchema(path: String, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "_schema.json"), schema.json)
  }

  /** Read any engine table with the `_schema.json` manifest fallback —
    * a freshly bootstrapped (empty) table reads as zero rows WITH its
    * declared schema instead of failing schema inference. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val manifest = Paths.get(path, "_schema.json")
    val hasData = Files.exists(Paths.get(path)) &&
      listDir(Paths.get(path)).exists { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") || n.startsWith("month=")
      }
    if (!hasData && Files.exists(manifest))
      spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(
          Files.readString(manifest)).asInstanceOf[StructType]).parquet(path)
    else spark.read.parquet(path)
  }

  /** Read back a partitioned trades table. Filters on `month` (which
    * [[graft.ops.Ops.monthKey]] derives from any ts predicate's bounds)
    * prune whole directories before the scan. The partition column comes
    * back as the same yyyyMM STRING that was written (Spark's partition
    * type inference would otherwise surface it as int). An empty
    * bootstrapped table reads via its `_schema.json` manifest. */
  def readTrades(spark: SparkSession, path: String): DataFrame = {
    val manifest = Paths.get(path, "_schema.json")
    val hasData = Files.exists(Paths.get(path)) &&
      listDir(Paths.get(path)).exists(
        _.getFileName.toString.startsWith("month="))
    val reader =
      if (!hasData && Files.exists(manifest))
        spark.read.schema(
          org.apache.spark.sql.types.DataType.fromJson(
            Files.readString(manifest)).asInstanceOf[StructType])
      else spark.read
    reader
      // explicit opt-in for MonthPruningRule: ONLY relations opened
      // through this reader assert the `month = yyyyMM(ts)` layout
      // contract the rule's rewrite depends on (a foreign table that
      // merely HAS month+ts columns must never be pruned by it)
      .option("graft.monthFromTs", "true")
      .parquet(path).withColumn("month", col("month").cast("string"))
  }

  /** The 100 TB windowed read path over a partitioned store: a `month`
    * predicate prunes whole partition directories BEFORE listing/scanning
    * (yyyyMM strings compare correctly lexicographically), and the `ts`
    * literal reaches the surviving files as a pushed filter for
    * row-group skipping — the engine-side equivalent of ClickHouse's
    * partition prune + sparse-index granule skip. */
  def readTradesSince(spark: SparkSession, path: String,
                      sinceMicros: Long): DataFrame = {
    val sinceMonth = monthLowerBound(sinceMicros, sessionZone(spark))
    readTrades(spark, path)
      .where(col("month") >= sinceMonth &&
        col("ts") >= lit(graft.Tables.microsToTimestamp(sinceMicros)))
  }

  /** Z-ordered, zone-mapped trades layout — the clustering answer for
    * queries that filter on a NON-leading dimension. [[writeTrades]]'s
    * `(ts, symbol, trade_id)` sort (the reference's ORDER BY) makes ts
    * envelopes tight and symbol envelopes useless: every file spans the
    * whole symbol alphabet, so a symbol-only predicate reads the entire
    * store. Here rows sort by a Morton interleave
    * ([[graft.functions.ZOrder]]) of 16-bit ts/symbol buckets and split
    * into `files` range slices, so per-file footer stats are narrow in
    * BOTH columns; [[ZoneMap.build]] persists them and
    * [[readTradesZoned]] prunes the file list on either dimension (or
    * both) before the scan — measured in ZoneSpec. Flat layout, no hive
    * partitions: the ts zone map subsumes month pruning (a TTL drop is
    * `maxLong(ts) < cutoff` on the index), and file-level stats are
    * strictly finer-grained than directory keys.
    *
    * Quantization facts (ts bounds, symbol dictionary) resolve driver-
    * side in two tiny aggregations. The dictionary-ordinal bucket keeps
    * lexicographic order so STRING footer stats stay tight — right for
    * a bounded symbol universe (the reference's market feed); an
    * unbounded high-cardinality dimension would hash-bucket instead and
    * carry the bucket as an indexed column. Bucket arithmetic stays in
    * LONGs end-to-end (a double hop would lose exactness past 2⁵³). */
  /** The 64-bit Morton sort key from the store's quantization facts.
    * ts buckets clamp to [0, 65535] so rows OUTSIDE the bounds the
    * facts were derived from (later appends) stay writable — they
    * cluster at the curve's edge with honest (actual-data) footer
    * stats, so pruning stays sound, just less selective for them.
    * Symbols absent from the dictionary take bucket 65535 for the same
    * reason: clustering quality degrades, correctness cannot. */
  private def zKeyCol(tsLo: Long, span: Long, stride: Long,
                      syms: Seq[String]): org.apache.spark.sql.Column = {
    // Clamp the delta to span BEFORE the ×65535 — an out-of-range
    // append (the documented clamp-to-curve-edge path) can carry a
    // delta far beyond span, and multiply-first would wrap negative
    // past Long.MaxValue/65535 (~4.46 years of µs) and crash the
    // interleave instead of clamping. In-range rows are unaffected
    // (delta ≤ span ⇒ least() is identity). A store whose OWN span
    // exceeds that bound can't multiply-first at all: divide first by
    // the cell width — coarser for small spans (which is why it isn't
    // the default) but exact at any width.
    val tsBucket =
      if (span <= Long.MaxValue / 65535L)
        expr(s"least((least(greatest(unix_micros(ts) - ${tsLo}L, 0L), " +
          s"${span}L) * 65535L) div ${span}L, 65535L)")
      else {
        val cell = span / 65536L + 1L
        expr(s"least(greatest(unix_micros(ts) - ${tsLo}L, 0L)" +
          s" div ${cell}L, 65535L)")
      }
    val pos = array_position(lit(syms.toArray), col("symbol"))
    val symBucket =
      when(pos === 0, lit(65535L)).otherwise((pos - 1L) * lit(stride))
    call_function("graft_zorder", tsBucket, symBucket)
  }

  private val ZoneMetaDir = "_zonemeta"

  def writeTradesZoned(trades: DataFrame, path: String,
                       files: Int = 16): Unit = {
    deleteRecursivelyIfExists(path)
    stageZonedStore(trades, path, files)
  }

  /** Fit the curve and write a COMPLETE zoned store (data files,
    * `_zonemeta` quantization facts, `_zonemap` index) at `into` —
    * shared by [[writeTradesZoned]] (writes in place, fresh store) and
    * [[compactTradesZoned]] (writes into a staging sibling, then
    * swaps). */
  private def stageZonedStore(trades: DataFrame, into: String,
                              files: Int): Unit = {
    val spark = trades.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val b = trades.agg(
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    require(!b.isNullAt(0), s"zoned write of an empty trades frame: $into")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = math.max(hi - lo, 1L)
    val syms = trades.select("symbol").distinct()
      .orderBy("symbol").collect().map(_.getString(0)).toSeq
    val stride = 65536L / syms.length
    // INT64 micros, NOT Spark's INT96 default: INT96 timestamps carry
    // NO min/max statistics (deprecated in parquet), which silently
    // blinds the ts zone map — ZoneSpec caught exactly that (symbol
    // envelopes tight, every ts envelope None). The switch is a session
    // conf with no per-write option, so set-and-restore around the one
    // write; the layout contract (stats-bearing timestamps) must not
    // depend on how the caller's session was built. Caveat, stated
    // loudly: session confs are session-global, so a CONCURRENT parquet
    // write on the same session during this window would also emit
    // INT64 — harmless for any reader, but a surprise; maintenance
    // writes like this one run from dedicated sessions at scale.
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.getOption(tsTypeKey)
    spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try trades
      .withColumn("z", zKeyCol(lo, span, stride, syms))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z", "ts", "trade_id")
      .drop("z")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(into)
    finally prevTsType match {
      case Some(v) => spark.conf.set(tsTypeKey, v)
      case None => spark.conf.unset(tsTypeKey)
    }
    // quantization facts persist beside the data so APPENDS z-key new
    // rows against the same curve the existing files were clustered on
    import spark.implicits._
    Seq((lo, span, stride, syms))
      .toDF("tsLo", "tsSpan", "stride", "symbols")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$into/$ZoneMetaDir")
    ZoneMap.build(spark, into, Seq("ts", "symbol"))
  }

  /** Append a batch to an existing zoned store: new rows take the
    * STORED quantization (same curve ⇒ new files interleave into the
    * same neighborhoods; out-of-range ts and unseen symbols clamp to
    * the curve edge, see [[zKeyCol]]), land as fresh z-sorted files via
    * parquet append, and the zone map extends INCREMENTALLY —
    * [[ZoneMap.refresh]] footer-reads only files the index has not
    * seen, the ingest-rate contract at 10⁶-file scale. */
  def appendTradesZoned(trades: DataFrame, path: String,
                        files: Int = 4): Unit = {
    val spark = trades.sparkSession
    graft.functions.GraftFunctions.register(spark)
    require(Files.isDirectory(Paths.get(path, ZoneMetaDir)),
      s"$path is not a zoned store (no $ZoneMetaDir — create it with " +
        "writeTradesZoned first)")
    val meta = spark.read.parquet(s"$path/$ZoneMetaDir")
      .select("tsLo", "tsSpan", "stride", "symbols").head()
    val (lo, span, stride) =
      (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    val syms = meta.getSeq[String](3)
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.getOption(tsTypeKey)
    spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try trades
      .withColumn("z", zKeyCol(lo, span, stride, syms))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z", "ts", "trade_id")
      .drop("z")
      .write.mode(SaveMode.Append)
      .option("compression", "zstd")
      .parquet(path)
    finally prevTsType match {
      case Some(v) => spark.conf.set(tsTypeKey, v)
      case None => spark.conf.unset(tsTypeKey)
    }
    ZoneMap.refresh(spark, path, Seq("ts", "symbol"))
  }

  /** Compact a zoned store: rewrite ALL current rows as `files` fresh
    * z-range slices with a REFIT curve, through one whole-store
    * crash-safe swap. Appends degrade a zoned store two ways the
    * monthly store doesn't suffer: file count grows per batch (each
    * append adds its own slices, overlapping existing envelopes — prune
    * selectivity decays), and clamped rows (out-of-range ts, unseen
    * symbols, see [[zKeyCol]]) pile up at the curve edge. A compaction
    * is already a full rewrite, so it also refits the quantization
    * facts to the data actually present — post-compaction, previously
    * clamped symbols get their own dictionary slot and tight envelopes.
    *
    * Crash safety at the STORE level: the whole replacement store
    * (data + `_zonemeta` + `_zonemap`) stages in a dot-prefixed sibling
    * and swaps in via [[swapDirectory]] on the PARENT directory — every
    * crash window leaves either the old store or the new one readable,
    * never a mix. This is why [[ZoneMap.Entry.file]] is
    * store-relative: the index built inside the staging dir stays
    * valid across the rename. Maintenance single-runner, like
    * [[compactMonth]]/[[retention]]; a died swap is repaired by
    * `recoverSwap(parent, storeName)` (the next compaction does it
    * automatically). */
  def compactTradesZoned(spark: SparkSession, path: String,
                         files: Int = 16): Unit = {
    val p = Paths.get(path).toAbsolutePath.normalize
    val parent = p.getParent
    require(parent != null, s"cannot compact a filesystem root: $path")
    val name = p.getFileName.toString
    recoverSwap(parent.toString, name)
    require(Files.isDirectory(p.resolve(ZoneMetaDir)),
      s"$path is not a zoned store (no $ZoneMetaDir — create it with " +
        "writeTradesZoned first)")
    // the snapshot read resolves its file list now, against the live
    // store; the staged write below executes BEFORE any rename touches
    // that store
    val snapshot = spark.read.parquet(p.toString)
    swapDirectory(parent.toString, name) { tmp =>
      stageZonedStore(snapshot, tmp, files)
    }
  }

  /** Zone-pruned read: consult the file index, scan only files whose
    * stat envelopes overlap the requested ts/symbol ranges, and
    * RE-APPLY the predicates row-level (pruning is an I/O optimization,
    * never a filter — the contract [[ZoneMap]] states). Bounds are
    * inclusive; either dimension may be open. */
  def readTradesZoned(spark: SparkSession, path: String,
                      tsMicros: Option[(Long, Long)] = None,
                      symbols: Option[(String, String)] = None): DataFrame = {
    val files = ZoneMap.prunedFiles(spark, path,
      longs = tsMicros.map(r =>
        ZoneMap.LongRange("ts", Some(r._1), Some(r._2))).toSeq,
      strs = symbols.map(r =>
        ZoneMap.StrRange("symbol", Some(r._1), Some(r._2))).toSeq)
    val base =
      if (files.isEmpty) spark.read.parquet(path).where(lit(false))
      else spark.read.parquet(files: _*)
    val t = tsMicros.map { case (l, h) =>
      col("ts") >= lit(graft.Tables.microsToTimestamp(l)) &&
        col("ts") <= lit(graft.Tables.microsToTimestamp(h))
    }.getOrElse(lit(true))
    val s = symbols.map { case (l, h) =>
      col("symbol") >= l && col("symbol") <= h
    }.getOrElse(lit(true))
    base.where(t && s)
  }

  /** The zone partition month keys are derived in — the SESSION zone,
    * because [[writeTrades]] builds `month` with `date_format`
    * ([[graft.ops.Ops.monthKey]]), which renders in the session zone.
    * Point lookups (`monthsBetween` membership) still require write and
    * read zones to match; every month-key BOUND (reader pruning, TTL
    * cutoffs, [[graft.functions.MonthPruningRule]]) instead goes through
    * [[monthLowerBound]], which stays correct when they diverge. */
  def sessionZone(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  /** Maximum writer-zone/reader-zone skew the month-key bounds absorb.
    * [[writeTrades]] renders `month` in the WRITING session's zone;
    * nothing ties a later reading session to the same zone, and real
    * zone offsets span [-12 h, +14 h], so two sessions can disagree by
    * up to 26 h about which month an instant renders into. 27 h of
    * margin makes every derived month BOUND correct under ANY
    * writer/reader zone pair, for the cost of at most one extra month
    * scanned (readers) or retained one cycle longer (TTL) when a bound
    * lands within the margin of a month boundary. */
  val ZoneSkewMarginUs: Long = 27L * 3600L * 1000000L

  /** Month-key lower bound implied by `ts >= us` that holds for ANY
    * writer zone: every row with `ts >= us` carries a partition key
    * `>=` this value no matter which zone rendered it. */
  def monthLowerBound(us: Long, zone: java.time.ZoneId): String =
    monthKeyOf(us - ZoneSkewMarginUs, zone)

  /** The single source of truth for yyyyMM-of-micros (driver-side twin of
    * the writer's `date_format(ts, 'yyyyMM')`). */
  def monthKeyOf(us: Long, zone: java.time.ZoneId): String = {
    val d = java.time.Instant
      .ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L).atZone(zone)
    f"${d.getYear}%04d${d.getMonthValue}%02d"
  }

  /** Month keys covering `[from, until]`, for query-side partition
    * pruning: `readTrades(...).where(col("month").isin(monthsBetween(a,b,z):_*))`. */
  def monthsBetween(fromMicros: Long, untilMicros: Long,
                    zone: java.time.ZoneId): Seq[String] = {
    def ym(us: Long) = {
      val d = java.time.Instant.ofEpochSecond(us / 1000000L).atZone(zone)
      d.getYear * 12 + (d.getMonthValue - 1)
    }
    (ym(fromMicros) to ym(untilMicros))
      .map(m => f"${m / 12}%04d${m % 12 + 1}%02d")
  }

  /** S6: TTL retention — drop month partitions strictly older than
    * `retainDays` before `asOfMicros` (reference:
    * sql/V1__create_trades_table.sql:19-20, `TTL ts + INTERVAL 90 DAY`).
    * Month-granular like the reference's partition-level TTL drops:
    * a partition is removed only when its entire month is expired —
    * under ANY writer zone, via the [[ZoneSkewMarginUs]] margin (a
    * delete must never trust the unenforceable same-zone assumption). */
  def retention(spark: SparkSession, path: String, asOfMicros: Long,
                retainDays: Int = 90): Seq[String] = {
    val cutoffUs = asOfMicros - retainDays.toLong * 86400L * 1000000L
    val cutoffMonth = monthLowerBound(cutoffUs, sessionZone(spark))
    val root = Paths.get(path)
    if (!Files.exists(root)) Seq.empty
    else {
      // FIRST, finish any compaction that died mid-swap — a month whose
      // only copy is stuck under .old_month=<m> is invisible to readers
      // AND would be invisible to the month= filter below, making it
      // unexpirable forever (the TTL/compliance failure mode). Stale
      // staging dirs are pure garbage.
      listDir(root).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(".old_month="))
          recoverSwap(path, n.stripPrefix(".old_"))
        else if (n.startsWith(".stage_month=")) {
          // only reap staging dirs past a grace period: maintenance jobs
          // are assumed single-runner (like the reference's migrate.py),
          // but if a compactMonth IS concurrently staging, yanking its
          // live staging dir would fail that job mid-write for no gain —
          // a fresh dir is someone's work, an hour-old one is a corpse
          val age = System.currentTimeMillis() -
            Files.getLastModifiedTime(p).toMillis
          if (age > StageGraceMs) deleteRecursively(p)
        }
      }
      val dropped = listDir(root)
        .filter(p => p.getFileName.toString.startsWith("month="))
        .filter(p => p.getFileName.toString.stripPrefix("month=") < cutoffMonth)
      dropped.foreach(deleteRecursively)
      dropped.map(_.getFileName.toString)
    }
  }

  /** Compact a month partition: micro-batch sinks append one small file
    * per trigger (SURVEY.md §7.5-7); this rewrites a partition's files
    * into one sorted file so row-group stats stay selective. Run as a
    * periodic maintenance job over recent months; at 100 TB, compact per
    * partition (bounded work) and swap directories atomically at the
    * orchestration layer. */
  /** Crash recovery for [[swapDirectory]] — callable on its own by
    * maintenance jobs (retention runs it for every month): a previous
    * swap may have died between its two moves.
    *  - old exists, target missing: died mid-swap; the dir's only copy
    *    is the dot-prefixed backup Spark readers ignore — roll BACK so
    *    it is visible again (a fresh swap can rerun from scratch)
    *  - old exists, target exists: died after the swap, before cleanup
    *    — the new copy is live; just finish the cleanup (leaving the
    *    backup in place would also make the next swap's move throw) */
  def recoverSwap(path: String, dirName: String): Unit = {
    val target = Paths.get(s"$path/$dirName")
    val old = Paths.get(s"$path/.old_$dirName")
    if (Files.exists(old)) {
      if (!Files.exists(target)) Files.move(old, target)
      else deleteRecursively(old)
    }
  }

  /** Crash-safe replacement of `path/dirName`: `stage` writes the new
    * content to a dot-prefixed staging dir (invisible to Spark's file
    * listing), then the live dir swaps out via a `.old_` backup in two
    * renames. Every crash window is covered: before the swap the live
    * dir is untouched, mid-swap [[recoverSwap]] rolls back, post-swap it
    * finishes the cleanup; a failed final move rolls back in place.
    * Concurrent readers race only the rename pair, never the staging
    * write. ONE audited implementation — compaction and the streaming
    * block stores all swap through here. */
  def swapDirectory(path: String, dirName: String)(
      stage: String => Unit): Unit =
    swapDirectoryFenced(path, dirName, () => ())(stage)

  /** [[swapDirectory]] with a fencing hook: `fence` runs AFTER staging
    * completes and immediately BEFORE the rename pair — the last point
    * where aborting leaves the live dir untouched — and AGAIN between
    * the backup move and the commit move (a steal landing between the
    * first check and the renames must abort into the rollback, not
    * commit a stale copy). A maintenance runner
    * passes its lease check ([[BlockStore.MaintenanceLease.check]]) so
    * a runner whose lease was stolen mid-staging (it stalled past the
    * TTL and a second runner took over) can never commit its stale
    * staged copy over the new holder's work — the fencing-token
    * discipline, token = the lease epoch. The irreducible residue is
    * one syscall: a steal landing INSIDE the final rename itself wins
    * the lease but can still see the stale commit; closing that needs
    * token verification inside the filesystem's rename, which POSIX
    * does not offer. That interleaving is driven DETERMINISTICALLY in
    * BlockStoreSpec (via [[commitWindowHook]]): the stale copy commits,
    * the fenced-out runner can never touch the store again, and the new
    * holder's next ordinary pass replaces the stale copy — bounded,
    * self-healing damage, which is why a generation-numbered commit
    * scheme (readers resolve `gen_<epoch>` max) is documented but not
    * built.
    *
    * `stageSuffix` isolates CONCURRENT fenced swaps of the same dir:
    * the fence only arbitrates the rename pair, so two runners staging
    * into the SAME `.stage_` path would corrupt each other BEFORE
    * either fence fires (the second's pre-clean deletes the first's
    * in-flight copy; the first's late writes land inside the second's
    * staged tree, and the second's fence then commits the mix). A
    * lease-holding caller passes its owner id so each runner stages
    * into its own directory and the fence alone decides who commits.
    * A crashed runner's suffixed stage dir is reaped here once it is
    * older than [[StageGraceMs]] (same corpse-vs-live heuristic as
    * [[retention]]). */
  /** Test seam for the IRREDUCIBLE fencing window: runs after the final
    * fence re-check and immediately before the commit rename — the one
    * place a lease steal can land and still be overwritten by this
    * runner's (now stale) staged copy. Production never assigns it; the
    * deterministic-interleaving test in BlockStoreSpec drives a steal
    * here and pins the documented outcome (stale copy commits, the new
    * holder's next maintenance pass self-heals). Kept a plain var, not
    * a parameter: the window is an implementation residue, not caller
    * surface. */
  private[graft] var commitWindowHook: () => Unit = () => ()

  def swapDirectoryFenced(path: String, dirName: String,
                          fence: () => Unit,
                          stageSuffix: String = "")(
      stage: String => Unit): Unit = {
    recoverSwap(path, dirName)
    val target = Paths.get(s"$path/$dirName")
    val old = Paths.get(s"$path/.old_$dirName")
    val tmp = s"$path/.stage_$dirName$stageSuffix"
    // a crash AFTER staging began but BEFORE the rename pair leaves a
    // populated .stage_ dir behind; stage() implementations overwrite
    // only what they write themselves (a parquet overwrite clears its
    // own subdir; copyRecursively clears its own DESTINATION dir at
    // the start of each attempt but never touches sibling paths a dead
    // attempt staged), so without this pre-clean a later swap would
    // carry the dead attempt's leftover content live — e.g. a stale
    // block=N folding into a block store twice
    if (Files.exists(Paths.get(tmp))) deleteRecursively(Paths.get(tmp))
    // OTHER suffixes' stage dirs are someone else's — possibly live —
    // work: reap only corpses (crashed runners' leftovers past the
    // grace age), never a fresh dir a concurrent runner is staging.
    // Exact-name-or-`_`-separated match: a bare startsWith would let
    // dirName `store-a` reap a sibling `store-ab`'s stage dir.
    if (Files.isDirectory(Paths.get(path)))
      listDir(Paths.get(path)).foreach { p =>
        val n = p.getFileName.toString
        val ours = n == s".stage_$dirName" ||
          n.startsWith(s".stage_${dirName}_")
        if (ours && p.toString != tmp) {
          val age = try System.currentTimeMillis() -
            Files.getLastModifiedTime(p).toMillis
          catch { case _: Exception => 0L } // vanished: nothing to reap
          // two legitimately-concurrent fenced runners can race this
          // reap on the same corpse (or one's finally-clean): a corpse
          // vanishing mid-walk must not abort this runner's swap
          if (age > StageGraceMs)
            try deleteRecursively(p) catch { case _: Exception => () }
        }
      }
    try {
      stage(tmp)
      fence()
      if (Files.exists(target)) {
        // the live dir is only removed AFTER the new copy is staged;
        // deleting first would make it vanish if the final move failed
        Files.move(target, old)
        // re-check the fence BETWEEN the two renames: a lease steal
        // landing after the first fence() but before the commit move
        // would otherwise let this (now stale) runner's staged copy
        // land over the new holder's work. With the re-check, the
        // unguarded window shrinks to the single commit rename below —
        // a steal inside that one syscall can still be overwritten,
        // which is the irreducible gap of fencing-by-check (closing it
        // needs the filesystem to verify the token inside rename
        // itself); the window is one rename, not a staging pass.
        try { fence(); commitWindowHook(); Files.move(Paths.get(tmp), target) }
        catch {
          case e: Exception =>
            Files.move(old, target) // roll back to the previous copy
            throw e
        }
        deleteRecursively(old)
      } else Files.move(Paths.get(tmp), target)
      // (no re-check on the no-previous-copy path: the first fence()
      // runs immediately before this single rename already)
    } finally {
      // never leave a stale staging dir behind on failure
      if (Files.exists(Paths.get(tmp))) deleteRecursively(Paths.get(tmp))
    }
  }

  def compactMonth(spark: SparkSession, path: String, month: String): Unit = {
    recoverSwap(path, s"month=$month")
    if (Files.exists(Paths.get(s"$path/month=$month"))) {
      swapDirectory(path, s"month=$month") { tmp =>
        spark.read.parquet(s"$path/month=$month")
          .repartition(1)
          .sortWithinPartitions("ts", "symbol", "trade_id")
          .write.mode(SaveMode.Overwrite)
          .option("compression", "zstd")
          .parquet(tmp)
      }
    }
  }

  /** Bucketed table writer — the co-located-join layout for the star
    * schema's big⋈big joins (SURVEY.md §4 partitioning note): both sides
    * bucketed on the join key with the same bucket count join WITHOUT a
    * shuffle exchange (each task reads matching bucket files from both
    * tables). At 100 TB this converts the fact⋈fact shuffle —
    * the single largest network cost in the star queries — into local
    * reads; the price is paid once at write time. Requires a catalog
    * table (bucket metadata lives there), hence `saveAsTable`. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("compression", "zstd")
      .format("parquet")
      .saveAsTable(table)

  /** S8: catalog probe (reference: src/migrate.py:34-45 probes
    * `system.tables`). */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** S7: versioned, checksummed, idempotent bootstrap — the migration
    * runner's semantics (reference: src/migrate.py:74-150): steps run in
    * version order exactly once; a step whose recorded checksum no longer
    * matches its definition is refused; applied versions are recorded in
    * a manifest (the `_migrations` table analogue).
    */
  final case class Migration(version: Int, name: String, body: String,
                             apply: SparkSession => Unit) {
    def checksum: String =
      MessageDigest.getInstance("SHA-256")
        .digest(body.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
  }

  /** Run pending migrations; returns versions applied this call.
    * Manifest lines: `version<TAB>name<TAB>sha256`
    * (reference: src/migrate.py:47-59,103-112). */
  def migrate(spark: SparkSession, warehouse: String,
              migrations: Seq[Migration]): Seq[Int] = {
    val manifest = Paths.get(warehouse, "_migrations.tsv")
    Files.createDirectories(manifest.getParent)
    val applied: Map[Int, String] =
      if (Files.exists(manifest))
        Files.readAllLines(manifest).asScala.filter(_.nonEmpty).map { l =>
          l.split("\t", 3) match {
            case Array(v, name, Pending) if v.forall(_.isDigit) =>
              // a previous run recorded intent and died before recording
              // completion — whether apply() ran to the end is UNKNOWABLE
              // here, and silently re-running a non-idempotent step would
              // duplicate its side effects. Fail stop, like Flyway's
              // failed-migration state: a human verifies the step's
              // effects and deletes (or completes) the line.
              throw new IllegalStateException(
                s"migration V$v ($name) was interrupted mid-apply — " +
                  s"verify its effects, repair $manifest, then re-run")
            case Array(v, _, sum) if v.forall(_.isDigit) => v.toInt -> sum
            case _ => throw new IllegalStateException(
              s"corrupt migration manifest $manifest: line '$l' — " +
                "repair or remove the manifest before re-running")
          }
        }.toMap
      else Map.empty

    migrations.sortBy(_.version).flatMap { m =>
      applied.get(m.version) match {
        case Some(sum) if sum == m.checksum => None // already applied, skip
        case Some(_) =>
          // checksum-refusal (reference: src/migrate.py:138-146)
          throw new IllegalStateException(
            s"migration V${m.version} (${m.name}) changed after being applied")
        case None =>
          // intent line BEFORE apply: a crash between apply and the
          // completion record must be detected on the next run (the
          // Pending branch above), never silently re-applied. Single
          // concurrent runner assumed, like the reference's migrate.py.
          Files.writeString(manifest,
            s"${m.version}\t${m.name}\t$Pending\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
          m.apply(spark)
          // completion: rewrite the manifest with the pending line
          // resolved to the checksum, atomically (tmp + move) so no
          // crash point leaves a torn manifest
          val lines = Files.readAllLines(manifest).asScala
            .filter(_.nonEmpty)
            .map { l =>
              if (l == s"${m.version}\t${m.name}\t$Pending")
                s"${m.version}\t${m.name}\t${m.checksum}"
              else l
            }
          val tmp = Paths.get(warehouse, "_migrations.tsv.tmp")
          Files.writeString(tmp, lines.mkString("", "\n", "\n"))
          Files.move(tmp, manifest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          Some(m.version)
      }
    }
  }

  private val Pending = "PENDING"

  /** How old a `.stage_*` dir must be before [[retention]] reaps it as
    * garbage — longer than any sane single-partition compaction write. */
  private val StageGraceMs: Long = 60L * 60L * 1000L
}
