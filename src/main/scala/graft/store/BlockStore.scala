package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The shared block-partial store machinery behind every block-partial
  * streaming MV — the candle partials
  * ([[graft.streaming.CandlePipeline]]), [[graft.streaming.IndexMV]],
  * [[graft.streaming.DedupMV]], [[graft.streaming.AnnMV]],
  * [[graft.streaming.HistogramMV]], [[graft.streaming.ProjectionMV]]
  * and [[graft.streaming.HeavyHitters]]. [[sink]] is the one streaming
  * query that feeds them: each micro-batch writes a `block=<batchId>`
  * partition (through [[writeBlock]]'s [[Store.swapDirectory]], so
  * at-least-once replays REPLACE losslessly), reads merge all blocks,
  * [[compact]] folds committed history into one block, and [[expire]]
  * retires old blocks under a persisted watermark (the MV-side analogue
  * of the trade store's 90-day TTL — the reference keeps retention in
  * the table engine, `sql/V1__create_trades_table.sql:19-20`; here it
  * lives in the one audited store implementation). One audited
  * implementation — the compaction/expiry contract (crash-safe
  * parent-level swap, retained-block copy, fold naming, watermark
  * enforcement) and the sink's replay discipline live here, once for
  * all seven families. */
object BlockStore {

  /** Expiry watermark sidecar: blocks with id below this value are
    * retired and may never be (re)written. Named with a leading
    * underscore so Spark's parquet reader ignores it like `_SUCCESS`. */
  val WatermarkFile = "_expire_watermark"

  /** A held maintenance lease on one partials root — the ENFORCED form
    * of the single-maintenance-runner contract ([[compact]]/[[expire]]
    * acquire one internally; a second concurrent runner fails fast in
    * [[acquireMaintenanceLease]] instead of racing the parent-level
    * swap). `epoch` is the fencing token: it increases on every
    * acquisition, including a steal of a stale lease, so a runner that
    * stalled past its TTL and lost the lease fails [[check]] at the
    * swap point rather than committing its stale staged copy over the
    * new holder's work. The lease file lives NEXT TO the root
    * (`.lease_<dir>`, the `.stage_`/`.old_` sibling convention) so the
    * parent-level swap it guards cannot delete it mid-run. */
  final case class MaintenanceLease(file: java.nio.file.Path,
                                    owner: String, epoch: Long) {
    /** Fencing check — throws unless the lease file still records THIS
      * owner and epoch. Passed to [[Store.swapDirectoryFenced]] so it
      * runs after staging, immediately before the rename pair. */
    def check(): Unit = {
      val held =
        try java.nio.file.Files.readString(file).trim
        catch { case _: java.io.IOException => "" }
      val ours = held.split(" ", 3) match {
        case Array(e, o, _) => e == epoch.toString && o == owner
        case _ => false
      }
      if (!ours) throw new IllegalStateException(
        s"maintenance lease lost (owner $owner, fencing epoch $epoch; " +
          s"file now: '$held') — aborting before the swap")
    }

    /** Delete the lease iff it is still ours (a stolen lease belongs to
      * the new holder — releasing it would un-fence them). */
    def release(): Unit =
      try { check(); java.nio.file.Files.deleteIfExists(file); () }
      catch { case _: IllegalStateException => () }
  }

  /** The ONE source of the maintenance-sidecar naming scheme — every
    * path this file builds next to a store dir goes through these, and
    * [[isMaintenanceSidecar]] is the matching predicate the scratch
    * sweeper uses ([[Store.scratchStore]]'s cleanup). A sidecar added
    * here without extending the predicate would silently leak, which
    * is exactly how the original `.epoch_` leak arose (the sweeper
    * re-spelled the names in a second file and drifted). */
  private def leaseFileName(dir: String): String = s".lease_$dir"
  private def epochFileName(dir: String): String = s".epoch_$dir"
  private def epochTmpPrefix(dir: String): String = s".epoch_$dir.tmp_"
  private def stealLockFileName(dir: String): String = s".steallock_$dir"

  /** Does file name `n` belong to the lease machinery of store dir
    * `dir`? (Exact names only — no bare prefix matching, so a sibling
    * store whose name extends `dir` can never be matched.) */
  private[store] def isMaintenanceSidecar(dir: String, n: String): Boolean =
    n == leaseFileName(dir) || n == epochFileName(dir) ||
      n == stealLockFileName(dir) || n.startsWith(epochTmpPrefix(dir)) ||
      n.startsWith(leaseFileName(dir) + ".pub_") ||
      n.startsWith(stealLockFileName(dir) + ".pub_")

  /** Atomically publish `content` at `file`, throwing
    * [[java.nio.file.FileAlreadyExistsException]] when the file already
    * exists: the content lands in a sibling temp file first and enters
    * the namespace via a hard LINK, so no reader can ever observe the
    * published file without its content — the torn-read state of the
    * old two-syscall spelling (CREATE_NEW, then write) is unreachable
    * (r11 ADVICE). The callers' torn-read grace paths remain as
    * defense: a filesystem without hard links falls back to the
    * two-syscall spelling, and external interference can still
    * truncate a file. A temp orphan from a crash between write and
    * link matches [[isMaintenanceSidecar]] and is swept with the other
    * sidecar corpses. */
  private def publishExclusive(file: java.nio.file.Path,
                               content: String): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val tmp = file.resolveSibling(
      file.getFileName.toString + ".pub_" + java.util.UUID.randomUUID())
    Files.writeString(tmp, content)
    try Files.createLink(file, tmp)
    catch {
      // no-link filesystems signal two ways: UnsupportedOperationException
      // (API-level) or a FileSystemException subtype (FUSE/network mounts,
      // e.g. "Operation not supported"). Both degrade to the two-syscall
      // spelling. FileAlreadyExistsException is EXCLUDED although it
      // subtypes FileSystemException — it is the contention signal this
      // method exists to propagate.
      case e @ (_: UnsupportedOperationException
                | _: java.nio.file.FileSystemException)
          if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
        Files.write(file,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    } finally {
      Files.deleteIfExists(tmp)
      ()
    }
  }

  /** Acquire the maintenance lease for a partials root, or fail fast
    * with [[IllegalStateException]] if another runner holds a live one.
    * Atomicity comes from CREATE_NEW (one creator wins the filesystem
    * race); a lease whose deadline passed is STALE and gets stolen —
    * via [[stealStaleLease]], which serializes stealers behind a
    * steal-lock and re-verifies staleness under it (an unserialized
    * delete would let a second stealer remove the first's freshly
    * created live lease), then re-enters the same CREATE_NEW race. The
    * epoch sidecar (`.epoch_<dir>`) persists across releases so every
    * acquisition — normal or steal — gets a strictly larger fencing
    * token than any lease ever granted on this root. `ttlMs` defaults
    * to 10 minutes: far above any maintenance pass here, short enough
    * that a crashed runner's lease is stealable the same session. */
  def acquireMaintenanceLease(partialsPath: String,
                              ttlMs: Long = 600000L,
                              owner: String =
                                java.util.UUID.randomUUID().toString)
      : MaintenanceLease = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val root = Paths.get(partialsPath).toAbsolutePath
    val parent = root.getParent
    Files.createDirectories(parent)
    val leaseFile = parent.resolve(leaseFileName(s"${root.getFileName}"))
    val epochFile = parent.resolve(epochFileName(s"${root.getFileName}"))
    var stealsLeft = 3
    while (true) {
      val lastEpoch =
        try Files.readString(epochFile).trim.toLong
        catch {
          case _: java.nio.file.NoSuchFileException => 0L
          // present-but-unparseable is NOT silently 0: minting a token
          // that may regress below a lease already granted would void
          // the fencing discipline. The atomic sidecar write below
          // makes this state unreachable for this code's own crashes —
          // reaching it means external interference, so fail loudly.
          case _: NumberFormatException => throw new IllegalStateException(
            s"corrupt fencing-epoch sidecar $epochFile — refusing to " +
              "mint a token that may regress; delete the sidecar to " +
              "re-arm from 0 only if no lease on this root can be live")
        }
      val epoch = lastEpoch + 1
      val now = System.currentTimeMillis()
      try {
        // link-published: the lease appears in the namespace WITH its
        // content, so a racing acquirer can never read it torn (the
        // grace path below survives only for the no-hard-link fallback
        // and external truncation)
        publishExclusive(leaseFile, s"$epoch $owner ${now + ttlMs}\n")
        // only the unique CREATE_NEW winner advances the sidecar, so
        // the write needs no lock of its own — but it must be ATOMIC
        // (stage + rename): an in-place truncate-then-write leaves a
        // permanently empty sidecar if this process dies between the
        // two, wedging every later acquisition on the corrupt-sidecar
        // check above
        val epochTmp = parent.resolve(
          epochTmpPrefix(s"${root.getFileName}") + owner)
        Files.writeString(epochTmp, epoch.toString + "\n")
        Files.move(epochTmp, epochFile,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        return MaintenanceLease(leaseFile, owner, epoch)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // CREATE_NEW and the content write are TWO syscalls, so a
          // racing acquirer can observe the winner's lease file while
          // it is still empty. A torn read therefore means the writer
          // is IN FLIGHT, not crashed — grace-wait for content before
          // ruling the lease stale, else two racing acquirers each
          // read the other's empty file and both "steal" (two live
          // leaseholders, the exact contract violation this lease
          // exists to prevent). Only a lease still torn after the
          // grace window (writer died between the two syscalls) is
          // stale.
          def readHeld(): (String, Long) = {
            val held =
              try Files.readString(leaseFile).trim
              catch { case _: java.io.IOException => "" }
            val deadline = held.split(" ", 3) match {
              case Array(_, _, d) => try d.toLong
                catch { case _: NumberFormatException => Long.MinValue }
              case _ => Long.MinValue // torn/garbled
            }
            (held, deadline)
          }
          var (held, deadline) = readHeld()
          val graceEnd = System.currentTimeMillis() + 1000L
          while (deadline == Long.MinValue && Files.exists(leaseFile) &&
            System.currentTimeMillis() < graceEnd) {
            Thread.sleep(10L)
            val h = readHeld(); held = h._1; deadline = h._2
          }
          if (!Files.exists(leaseFile)) {
            // released (or fully stolen) underneath the read: retry the
            // CREATE_NEW race from the top — no steal charge, the file
            // is simply free again
          } else if (System.currentTimeMillis() < deadline)
            throw new IllegalStateException(
              s"maintenance lease held on $root ('$held') — a second " +
                "concurrent compact/expire runner fails fast by contract")
          else {
            stealsLeft -= 1
            if (stealsLeft == 0) throw new IllegalStateException(
              s"maintenance lease on $root stale but unstealable after " +
                "3 attempts (a live runner keeps re-winning the race)")
            stealStaleLease(parent, root, leaseFile, held, owner)
            // stale record gone (or this throws): loop back to the
            // CREATE_NEW race — another acquirer may still win it first
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Remove one STALE lease record so the caller can re-enter the
    * CREATE_NEW race. Stealers are SERIALIZED by a short-deadline
    * steal-lock (itself a CREATE_NEW file): the lone stealer re-reads
    * the lease UNDER the lock, so the record it deletes is always one
    * it just re-verified stale — a live lease is never displaced.
    * Without serialization, the naive delete-based steal let a second
    * stealer's deleteIfExists remove the first's freshly created LIVE
    * lease (two live holders staging concurrently); and even an
    * atomic-rename claim left verify-and-restore an absence window in
    * which a third acquirer's CREATE_NEW won while the displaced
    * holder had already returned — two surviving acquisitions. Under
    * the lock, re-read → verify → delete admits exactly one survivor
    * of the whole acquire race.
    *
    * The lock guards only this removal, never a commit, so lock
    * crash-recovery can use the simple delete-and-re-race (a dead
    * stealer's lock past its 30 s deadline is deleted; the residual
    * two-lock-holder window behind a crashed lock needs a second
    * crash inside 30 s to matter, and even then the lease fence —
    * not this lock — is what guards commits). TESTED residual, not
    * just documented: BlockStoreSpec's crash-injection case drives a
    * dead runner's stage dir + stale lease + past-deadline lock corpse
    * through a full steal-and-commit and pins that the fence alone
    * keeps the corpse content out of the winner's tree.
    *
    * Throws the contractual fail-fast [[IllegalStateException]] when
    * another stealer holds the lock or the lease re-reads as LIVE;
    * returns normally once the stale record is gone (including
    * "already released underneath us"). */
  private def stealStaleLease(parent: java.nio.file.Path,
                              root: java.nio.file.Path,
                              leaseFile: java.nio.file.Path,
                              observed: String,
                              owner: String): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val lock = parent.resolve(stealLockFileName(s"${root.getFileName}"))
    var lockAttempts = 3
    var locked = false
    while (!locked) {
      try {
        // same link-publish as the lease: the lock is never observable
        // without its deadline
        publishExclusive(lock,
          s"$owner ${System.currentTimeMillis() + 30000L}\n")
        locked = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          lockAttempts -= 1
          // a TORN lock read (created, content not yet written — the
          // same two-syscall window as the lease file itself) is an
          // IN-FLIGHT writer, not a corpse: age it by file mtime, so a
          // fresh torn lock reads as live (fail fast below) and only
          // one whose writer died >30 s ago is deleted. Treating torn
          // as dead re-opened the dual-stealer race this lock exists
          // to close: the reader deleted the in-flight winner's lock,
          // took its own, and both proceeded to delete/create.
          def mtimeDeadline: Long =
            try Files.getLastModifiedTime(lock).toMillis + 30000L
            catch { case _: Exception => 0L } // vanished: re-race
          val deadline =
            try Files.readString(lock).trim.split(" ", 2) match {
              case Array(_, d) =>
                try d.toLong catch {
                  case _: NumberFormatException => mtimeDeadline }
              case _ => mtimeDeadline // torn
            } catch { case _: Exception => 0L } // vanished: re-race
          if (System.currentTimeMillis() < deadline || lockAttempts == 0)
            throw new IllegalStateException(
              s"maintenance lease on $root is being stolen by a " +
                "concurrent runner — second runner fails fast by contract")
          Files.deleteIfExists(lock) // dead stealer's lock: re-race
      }
    }
    try {
      def readCur(): Option[(String, Long)] =
        try {
          val c = Files.readString(leaseFile).trim
          val d = c.split(" ", 3) match {
            case Array(_, _, dl) => try dl.toLong
              catch { case _: NumberFormatException => Long.MinValue }
            case _ => Long.MinValue
          }
          Some((c, d))
        } catch { case _: java.io.IOException => None }
      // re-read UNDER the lock with the same torn-read grace as the
      // acquire loop: an unparseable record that DIFFERS from the one
      // we observed may be a CREATE_NEW winner's content write still
      // in flight (create and write are two syscalls) — deleting it
      // here would displace a live acquirer that has already returned,
      // re-opening the two-survivor window. Only a record still torn
      // after the grace (its writer died between the syscalls) or
      // still the observed stale one is removed.
      var cur = readCur().getOrElse(return) // released underneath us
      val graceEnd = System.currentTimeMillis() + 1000L
      while (cur._2 == Long.MinValue && cur._1 != observed &&
             System.currentTimeMillis() < graceEnd) {
        Thread.sleep(10L)
        cur = readCur().getOrElse(return)
      }
      if (cur._1 != observed && System.currentTimeMillis() < cur._2)
        throw new IllegalStateException(
          s"maintenance lease on $root changed hands mid-steal — a " +
            "live runner holds it; second runner fails fast by contract")
      try Files.delete(leaseFile)
      catch { case _: java.nio.file.NoSuchFileException => () }
    } finally {
      // release only OUR lock — past its deadline it may have been
      // legitimately stolen by the next stealer
      val mine = try Files.readString(lock).trim.startsWith(s"$owner ")
      catch { case _: Exception => false }
      if (mine) Files.deleteIfExists(lock)
    }
  }

  /** The persisted expiry watermark, or `Long.MinValue` when nothing
    * has ever been expired. */
  def watermark(root: java.nio.file.Path): Long = {
    val f = root.resolve(WatermarkFile)
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toLong
    else Long.MinValue
  }

  /** The LIVE `block=<id>` child directories of a partials root —
    * watermark-filtered, so a retired block dir surviving a torn crash
    * window can never be read back. */
  def blockDirs(root: java.nio.file.Path): List[java.nio.file.Path] = {
    val wm = watermark(root)
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.toList.filter(p =>
      java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("block=") &&
        blockId(p) >= wm)
    finally s.close()
  }

  def blockId(p: java.nio.file.Path): Long =
    p.getFileName.toString.stripPrefix("block=").toLong

  /** Write one block through the crash-safe swap, UNLESS the block id
    * is below the expiry watermark — the enforcement that makes
    * [[expire]] final: an at-least-once replay of a batch whose block
    * was retired is dropped here (returns false), so expired data
    * cannot resurrect through the sink path. */
  def writeBlock(partialsPath: String, blockId: Long)(
      stage: String => Unit): Boolean = {
    val root = java.nio.file.Paths.get(partialsPath).toAbsolutePath
    if (java.nio.file.Files.isDirectory(root) && blockId < watermark(root))
      false
    else {
      Store.swapDirectory(partialsPath, s"block=$blockId")(stage)
      true
    }
  }

  /** The one block-partial streaming sink: every micro-batch commits
    * through [[writeBlock]] as the block whose id is the batch id, so a
    * `foreachBatch` replay (a crash between the block write and the
    * offset commit re-runs the batch under the same id) replaces its
    * block, and a replay of an expired block is dropped.
    * `stage(batch)(dir)` writes what the batch's block holds into
    * `dir`. */
  def sink(rows: DataFrame, partialsPath: String, checkpointPath: String,
           trigger: Trigger)(
      stage: DataFrame => String => Unit): StreamingQuery =
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBlock(partialsPath, batchId)(stage(batch))
        ()
      }
      .start()

  /** Merge-on-read frame over every live block; when NO block has
    * committed yet (a continuously-queried MV probed before its first
    * micro-batch) returns an explicit-`schema` EMPTY frame instead of
    * letting `spark.read.parquet` throw its unable-to-infer-schema
    * error on the bare root. Non-empty reads list the live block dirs
    * explicitly, so the watermark filter applies to reads too. */
  def read(spark: SparkSession, partialsPath: String,
           schema: StructType): DataFrame = {
    val root = java.nio.file.Paths.get(partialsPath).toAbsolutePath
    val dirs =
      if (java.nio.file.Files.isDirectory(root)) blockDirs(root) else Nil
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    else
      // basePath anchors partition discovery at the root, so `block=`
      // (and any inner physical key like the ANN store's `cell=`)
      // resolve as partition columns exactly as a whole-root read
      spark.read.option("basePath", root.toString)
        .parquet(dirs.map(_.toString): _*)
  }

  /** Retire every block with id < `beforeBlockId`: rewrite the root
    * (one crash-safe parent-level swap, as [[compact]]) keeping only
    * newer blocks, and persist the watermark INSIDE the staged dir —
    * so every crash window leaves either the old store or the complete
    * expired store with its watermark, never retired data without the
    * guard that keeps it gone. Monotone: an older watermark never
    * overwrites a newer one. Same concurrency contract as [[compact]]:
    * callers expire only checkpoint-committed history, and retained
    * blocks mid-replace survive via [[copyRecursively]]'s retry. */
  def expire(partialsPath: String, beforeBlockId: Long): Unit = {
    val root = java.nio.file.Paths.get(partialsPath).toAbsolutePath
    if (!java.nio.file.Files.isDirectory(root)) return
    val lease = acquireMaintenanceLease(partialsPath)
    try {
      val wm = math.max(watermark(root), beforeBlockId)
      val retained = blockDirs(root).filter(blockId(_) >= wm)
      if (wm == watermark(root)) return // nothing new to retire
      Store.swapDirectoryFenced(
        root.getParent.toString, root.getFileName.toString,
        () => lease.check(), stageSuffix = s"_${lease.owner}") { tmp =>
        val tmpPath = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.createDirectories(tmpPath)
        java.nio.file.Files.writeString(
          tmpPath.resolve(WatermarkFile), wm.toString + "\n")
        retained.foreach { src =>
          copyRecursively(src, tmpPath.resolve(src.getFileName.toString))
        }
        captureLateBlocks(root, tmpPath, wm)
      }
    } finally lease.release()
  }

  /** Close (most of) the new-commit window in [[expire]]/[[compact]]:
    * a sink that commits a NEW block between the initial `blockDirs`
    * listing and the parent-level swap would otherwise have its
    * checkpoint advance while the swap discards the block's data. This
    * re-list runs as the LAST step of the staging function — any live
    * block at or above `floorId` that the staged store doesn't hold yet
    * is copied in, shrinking the unprotected window from the whole
    * staging copy's duration to the swap's two renames. The
    * maintenance-vs-maintenance half of the old "single runner"
    * contract is now ENFORCED, not stated: [[compact]]/[[expire]]
    * acquire the [[MaintenanceLease]], so two concurrent runners
    * cannot interleave their swaps (the second fails fast; a stolen
    * lease fences the stale runner at its swap). The sink-vs-
    * maintenance half remains contractual: maintenance runs BETWEEN
    * the sink's micro-batches (`foreachBatch` serializes batches, so
    * running maintenance inside or around the batch callback
    * trivially satisfies this); a sink racing the rename pair itself
    * would observe a briefly-missing root and fail its batch before
    * checkpointing — at-least-once then replays it. */
  private def captureLateBlocks(root: java.nio.file.Path,
                                tmpPath: java.nio.file.Path,
                                floorId: Long): Unit =
    blockDirs(root)
      .filter(p => blockId(p) >= floorId &&
        !java.nio.file.Files.exists(
          tmpPath.resolve(p.getFileName.toString)))
      .foreach { src =>
        copyRecursively(src, tmpPath.resolve(src.getFileName.toString))
      }

  /** Fold every block with id ≤ `throughBlockId` into ONE block via
    * `fold` (identity/concatenation for row-fact partials, a re-merge
    * aggregation for summary partials). The folded block is named
    * after the HIGHEST id it absorbed — NOT `throughBlockId` — so a
    * caller passing a too-high id (the classic off-by-one: the newest
    * batch id instead of newest−1) cannot park the folded history
    * under a block id a FUTURE micro-batch will replace; absorbed ids
    * are committed by definition, so their maximum can never collide
    * with a later batch. Replay contract: under `foreachBatch`
    * at-least-once delivery only the newest not-yet-committed batch
    * can replay — callers compact only checkpoint-committed history; a
    * replayed newer block still replaces its own `block=<id>` dir
    * exactly as before compaction.
    *
    * The whole partials directory is rewritten through ONE
    * [[Store.swapDirectory]] at the parent level — retained blocks
    * (> `throughBlockId`) are copied alongside the fold, so every
    * crash window leaves either the old directory or the complete new
    * one, never a double-counting mix. `stage` runs BEFORE the rename
    * pair, so the live block dirs are still in place to read from;
    * they are addressed directly (not via the partials root) so no
    * listing races the staging write.
    *
    * Concurrency contract with the sink: folded blocks (≤
    * `throughBlockId`) are checkpoint-committed, so no replay touches
    * them — but a RETAINED block can be mid-replace (the sink's
    * rename pair) while this copy walks it. [[copyRecursively]]
    * re-lists and retries on the resulting `NoSuchFileException`, so
    * the staged store captures either the old or the new rename-pair
    * state of that block, never a torn half — both are complete
    * blocks (replays REPLACE losslessly), so either is correct. */
  def compact(spark: SparkSession, partialsPath: String,
              throughBlockId: Long, partitionCols: Seq[String] = Nil)(
      fold: DataFrame => DataFrame): Unit = {
    val root = java.nio.file.Paths.get(partialsPath).toAbsolutePath
    compactWith(spark, partialsPath, throughBlockId) {
      (oldBlocks, foldedDir) =>
        val folded = fold(
          spark.read.option("basePath", root.toString)
            .parquet(oldBlocks.map(_.toString): _*))
        // a physically-partitioned family (the ANN inverted lists) keeps
        // its layout through compaction so the probe's prune survives
        if (partitionCols.nonEmpty)
          folded
            .repartition(partitionCols.map(
              org.apache.spark.sql.functions.col): _*)
            .write.partitionBy(partitionCols: _*)
            .mode("overwrite").parquet(foldedDir)
        else
          folded.coalesce(1)
            .write.mode("overwrite").parquet(foldedDir)
    }
  }

  /** [[compact]] for block families whose block dir is NOT one
    * homogeneous parquet table (r17: the ingest-maintained aggregate
    * projection commits `side=base` + `side=proj` with two schemas in
    * one block dir, which the single-DataFrame `fold` above cannot
    * read together). `stageFold(oldBlocks, foldedDir)` must write the
    * complete folded block dir; everything else — lease/fencing, the
    * crash-safe parent-level swap, watermark preservation, retained-
    * block copy, late-block capture, folded-block naming — is the one
    * audited implementation both entry points share. */
  def compactWith(spark: SparkSession, partialsPath: String,
                  throughBlockId: Long)(
      stageFold: (List[java.nio.file.Path], String) => Unit): Unit = {
    val root = java.nio.file.Paths.get(partialsPath).toAbsolutePath
    val lease = acquireMaintenanceLease(partialsPath)
    try compactHoldingLease(root, throughBlockId, lease)(stageFold)
    finally lease.release()
  }

  private def compactHoldingLease(
      root: java.nio.file.Path, throughBlockId: Long,
      lease: MaintenanceLease)(
      stageFold: (List[java.nio.file.Path], String) => Unit): Unit = {
    val wm = watermark(root)
    val (oldBlocks, retained) =
      blockDirs(root).partition(blockId(_) <= throughBlockId)
    if (oldBlocks.size < 2) return // nothing to fold
    val foldedId = oldBlocks.map(blockId).max
    Store.swapDirectoryFenced(
      root.getParent.toString, root.getFileName.toString,
      () => lease.check(), stageSuffix = s"_${lease.owner}") { tmp =>
      val tmpPath = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(tmpPath)
      // the expiry watermark survives compaction — dropping it would
      // re-arm retired block ids for a later replay to resurrect
      if (wm != Long.MinValue)
        java.nio.file.Files.writeString(
          tmpPath.resolve(WatermarkFile), wm.toString + "\n")
      stageFold(oldBlocks, s"$tmp/block=$foldedId")
      retained.foreach { src =>
        copyRecursively(src, tmpPath.resolve(src.getFileName.toString))
      }
      // floor EXCLUDES the absorbed ids: their live dirs still exist
      // but their rows are in the folded block — re-copying one would
      // double-count it. A late sink commit always carries a HIGHER id
      // than every absorbed (committed) block, so it clears the floor.
      captureLateBlocks(root, tmpPath, throughBlockId + 1)
    }
  }

  /** Recursive copy that survives the source being concurrently
    * REPLACED (a sink replay's rename pair swapping a retained block
    * dir mid-walk): a file vanishing under the walk re-lists and
    * retries the whole copy — after the rename pair completes the dir
    * is stable again, so one retry normally suffices; three failed
    * attempts mean the dir is gone for good (not a swap) and the
    * exception is real. Each retry CLEARS the partially-copied
    * destination first: `Files.copy` cannot replace a non-empty
    * directory (the root entry would throw DirectoryNotEmptyException
    * before the retry got anywhere), and a replaced source names its
    * part-files differently, so merging attempts would double the
    * block's rows. */
  def copyRecursively(src: java.nio.file.Path,
                      dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    def attempt(): Unit = {
      Store.deleteRecursivelyIfExists(dst.toString)
      val s = Files.walk(src)
      // depth-first pre-order: directories precede their contents, so
      // each copy's parent already exists
      try s.iterator().asScala.foreach { p =>
        Files.copy(p, dst.resolve(src.relativize(p).toString),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally s.close()
    }
    var left = 3
    var done = false
    while (!done) {
      try { attempt(); done = true }
      catch {
        case e: java.nio.file.NoSuchFileException =>
          left -= 1
          if (left == 0 || !Files.exists(src)) throw e
      }
    }
  }
}
