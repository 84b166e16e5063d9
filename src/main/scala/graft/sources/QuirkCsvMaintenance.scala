package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** In-place maintenance for graftcsv directories — the compaction pass a
  * long-running graftcsv STREAMING sink needs (one part file per epoch ×
  * partition accumulates into thousands of small files, and both split
  * planning and the zone-map sidecar grow with file count).
  *
  * The operation is safe against a LIVE sink and against a crash at any
  * point, by construction rather than by convention:
  *
  *  1. '''Pin''': list the directory's visible data files once; that
  *     snapshot is the compaction's entire input AND its entire delete
  *     set. The read goes through the source with the `pinnedFiles`
  *     option, so partition planning at execution time reads exactly the
  *     snapshot even if the listing would differ by then.
  *  2. '''Fold into a hidden tmp dir''': the folded part files are
  *     written to `_graft_compact_tmp/` under the directory — invisible
  *     to readers (hidden prefix) and to the sink's epoch sweep (which
  *     lists files, not directories). A crash anywhere before step 3
  *     leaves the table EXACTLY as it was: the next run discards the
  *     orphaned tmp and starts over. (Folding straight into the
  *     directory would make a crashed fold's copies part of the next
  *     run's pinned input — permanent duplicates.)
  *  3. '''Durable intent''': record BOTH the folded file names and the
  *     pinned originals in a hidden intent sidecar, written to a tmp
  *     name and renamed into place (plus an end-marker line), so a
  *     half-written intent can never be mistaken for a complete one.
  *     Only once the intent is durable does anything become visible or
  *     deletable.
  *  4. '''Swap''': move the folded files from tmp into the directory,
  *     merge their zone-map entries, delete exactly the pinned
  *     originals, drop their zone entries, remove the intent, remove
  *     tmp. Every step is idempotent; a crash mid-swap leaves the
  *     intent behind and [[compactCsv]] completes the pending swap
  *     first on its next run, so the directory converges to the
  *     compacted layout. Rows are never lost — the worst crash window
  *     leaves folded copies alongside not-yet-deleted originals, i.e.
  *     transient duplicates that the recovery pass removes.
  *
  * An intent sidecar with an unrecognized header or a missing end
  * marker fails LOUDLY and is left in place: it is the only record of a
  * half-done swap, and deleting it (or guessing at its contents) could
  * bake permanent duplicates into the directory.
  *
  * Honest concurrency contract: a batch reader that plans its scan
  * DURING the swap can see a pinned original and its folded copy at
  * once (duplicate rows) — the window is the move+delete loop, not the
  * whole rewrite. Rows are never lost. A live sink's own sidecar merge
  * racing the zone-entry swap can lose zone entries for either side's
  * files — those files are then scanned instead of pruned (safe
  * degradation). A downstream graftcsv STREAM restarting across a
  * compaction is NOT supported: compaction replaces epoch files, which
  * breaks the path-sorted replay contract (that pairing needs a
  * manifest, which is why Spark's own FileStreamSink/Source pair
  * through one). */
private[graft] object QuirkCsvMaintenance {

  private val IntentFile = "_graft_compact_intent.tsv"
  private val IntentTmpFile = "._graft_compact_intent.tsv.tmp"
  private val IntentHeader = "graft-compact-intent-v2"
  private val IntentHeaderV1 = "graft-compact-intent-v1"
  private val IntentFooter = "end"
  private[graft] val TmpDirName = "_graft_compact_tmp"
  private[graft] val FoldLogDirName = "_graft_compact_log"
  private val FoldHeader = "graft-compact-fold-v1"

  /** Compact `dir` into `numFiles` part files. Returns
    * (dataFilesBefore, dataFilesAfter). See the object doc for the
    * pin → fold → intent → swap protocol and its concurrency contract. */
  def compactCsv(spark: SparkSession, dir: String,
                 numFiles: Int): (Long, Long) =
    compactCsv(spark, dir, numFiles, sortBy = None)

  /** As [[compactCsv]], folding into RANGE-CLUSTERED files on `sortBy`
    * (explicit, or auto-detected from the directory's — or, for a value
    * subdir, the table root's — `_graft_cluster` marker): the folded
    * files carry disjoint key ranges, so the rewritten sidecar prunes a
    * selective probe to ONE file instead of every overlapping epoch
    * file. `sortBy = Some(col)` forces; `None` auto-detects. */
  def compactCsv(spark: SparkSession, dir: String, numFiles: Int,
                 sortBy: Option[String]): (Long, Long) = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    // hidden directories are SYSTEM metadata (version log, attic, fold
    // tmp) — "compacting" one would fold its sidecar files into fake CSV
    // data and destroy the metadata it holds. A caller iterating a table
    // root's subdirs must skip them; fail loudly if one slips through.
    require(!new Path(dir).getName.startsWith("_") &&
      !new Path(dir).getName.startsWith("."),
      s"$dir is a hidden system directory (version log, attic, tmp) — " +
        "graftcsv compaction applies to data directories only")
    // a PARTITIONED table root holds only the schema seed + value
    // subdirs: compacting it would fold the seed into a root "data"
    // file (bricking every later scan on the root-level-data-file
    // guard) and never touch the real data. Compact each value subdir
    // instead — a plain directory with no marker, where this protocol
    // applies unchanged.
    require(!new Path(dir, QuirkCsv.PartitioningFile)
      .getFileSystem(hadoopConf)
      .exists(new Path(dir, QuirkCsv.PartitioningFile)),
      s"$dir is a PARTITIONED graftcsv table root — compact its " +
        "<col>=<value> subdirectories individually, never the root " +
        "(the root holds only the schema seed)")
    recoverPendingSwap(dir)
    val pinned = dataFileNames(dir)
    val before = pinned.size.toLong
    if (pinned.isEmpty) return (0L, 0L)
    val cluster = sortBy.orElse {
      val d = new Path(dir)
      QuirkCsv.readClustering(d)
        .orElse(Option(d.getParent).flatMap(QuirkCsv.readClustering))
    }
    compactPinned(spark, dir, pinned, numFiles, cluster)
    (before, dataFileNames(dir).size.toLong)
  }

  /** Compact many value directories CONCURRENTLY from a bounded driver
    * pool — the maintenance shape for a partitioned table with thousands
    * of partitions, where the serial per-dir loop would crawl (each dir
    * is one small Spark job; issuing them one at a time leaves the
    * cluster idle between jobs). Each dir runs the unchanged
    * [[compactCsv]] protocol: tmp dirs are per-dir (no collisions),
    * version commits serialize on the table root's lock, and a failure
    * in any dir propagates after the in-flight dirs finish. Returns
    * (dataFilesBefore, dataFilesAfter) summed across dirs. */
  def compactValueDirs(spark: SparkSession, dirs: Seq[String],
                       numFiles: Int, sortBy: Option[String] = None,
                       parallelism: Int = 8,
                       timeoutSec: Long = DefaultCompactTimeoutSec)
  : (Long, Long) = {
    if (dirs.isEmpty) return (0L, 0L)
    val n = math.max(1, math.min(parallelism, dirs.size))
    if (n == 1)
      return dirs.map(compactCsv(spark, _, numFiles, sortBy))
        .foldLeft((0L, 0L)) { case ((tb, ta), (fb, fa)) =>
          (tb + fb, ta + fa) }
    runBounded(dirs.map(d =>
        d -> (() => compactCsv(spark, d, numFiles, sortBy))),
      n, timeoutSec, "compaction")
      .foldLeft((0L, 0L)) { case ((tb, ta), (fb, fa)) =>
        (tb + fb, ta + fa) }
  }

  /** Default wall-clock bound for one pooled maintenance fan-out. One
    * wedged filesystem call must not hang `system.compact` forever with
    * the pool alive — a stuck maintenance job should fail loudly and
    * release its threads. Generous: the bound is for WEDGED calls, not
    * slow ones. */
  val DefaultCompactTimeoutSec: Long = 3600L

  /** Run labeled tasks on a bounded pool with a GLOBAL deadline and
    * per-task failure attribution. All tasks are awaited (a failure in
    * one does not abandon in-flight siblings mid-rename); then failures
    * throw together, naming each task. Tasks still running at the
    * deadline are interrupted and reported by label — the bounded
    * replacement for `Await.result(…, Duration.Inf)`. */
  private[graft] def runBounded[T](labeled: Seq[(String, () => T)],
                                   parallelism: Int, timeoutSec: Long,
                                   what: String): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = labeled.map { case (label, task) =>
        label -> scala.concurrent.Future(task())(ec)
      }
      val deadline = System.nanoTime + timeoutSec * 1000000000L
      val settled = futs.map { case (label, f) =>
        val left = math.max(0L, deadline - System.nanoTime)
        label -> (try Right(scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.fromNanos(left)))
          catch {
            case _: java.util.concurrent.TimeoutException => Left(None)
            case scala.util.control.NonFatal(e) => Left(Some(e))
          })
      }
      val hung = settled.collect { case (l, Left(None)) => l }
      if (hung.nonEmpty) {
        pool.shutdownNow()
        throw new IllegalStateException(
          s"$what timed out after ${timeoutSec}s with " +
            s"${hung.size} task(s) still running: ${hung.mkString(", ")}")
      }
      val failed = settled.collect { case (l, Left(Some(e))) => (l, e) }
      if (failed.nonEmpty)
        throw new IllegalStateException(
          s"$what failed for ${failed.size} task(s): " +
            failed.map { case (l, e) => s"$l (${e.getMessage})" }
              .mkString("; "),
          failed.head._2)
      settled.collect { case (_, Right(v)) => v }
    } finally pool.shutdown()
  }

  /** Visible (non-hidden) data file names in `dir`, sorted. */
  private[graft] def dataFileNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }

  /** The compaction body, with the input snapshot as an explicit
    * argument — exposed so a spec can interleave a concurrent epoch
    * commit between the pin and the compaction and prove it survives. */
  private[graft] def compactPinned(spark: SparkSession, dir: String,
                                   pinned: Seq[String],
                                   numFiles: Int,
                                   sortBy: Option[String] = None): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(hadoopConf)
    val tmp = new Path(base, TmpDirName)
    // an earlier fold that died before its intent became durable never
    // became part of the table (its originals are all still in place) —
    // discard it rather than fold it in as duplicate input
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // fold the pinned snapshot into the hidden tmp dir — reader- and
    // sink-invisible until the intent below is durable. A cluster column
    // folds RANGE-partitioned + sorted: disjoint per-file key ranges for
    // the rewritten zone map to prune against.
    // ignoreSchemaMap: a RENAME/DROP-journaled dir must fold in its
    // FROZEN PHYSICAL layout (physical header, dropped columns carried
    // through, stats keyed by physical names) — reading logically and
    // writing journal-less tmp files would swap in files the journal
    // then positionally mis-reads (dropped positions shift every later
    // column; sidecar keys go logical and stop serving).
    val pinnedRead = spark.read.format("graftcsv")
      .option("pinnedFiles", QuirkCsv.encodePinned(pinned))
      .option("ignoreSchemaMap", "true")
      .load(dir)
    val folded0 = sortBy match {
      case Some(c) => pinnedRead
        .repartitionByRange(numFiles, org.apache.spark.sql.functions.col(c))
        .sortWithinPartitions(c)
      case None => pinnedRead.repartition(numFiles)
    }
    // folded files keep the table's bloom columns (dir's own marker, or
    // the table root's for a value subdir) — compaction must not degrade
    // equality file skipping on the folded layout
    val (bloomBits, bloomCols) = QuirkCsv.bloomColsFor(base)
    val foldedW = folded0.write.format("graftcsv").mode("append")
    (if (bloomCols.nonEmpty)
      foldedW.option("bloomCols", bloomCols.mkString(","))
        .option("bloomBits", bloomBits.toString)
    else foldedW).save(tmp.toString)
    val folded = dataFileNames(tmp.toString)
    // intent first, so a crash anywhere below is COMPLETED by the next
    // run (transient duplicates at worst) instead of leaving permanent
    // duplicates or lost rows
    writeIntent(fs, base, folded, pinned)
    completeSwap(fs, base, folded, pinned)
  }

  /** The idempotent swap: move folded files from tmp into the
    * directory, merge their zone entries (re-keyed to the moved files'
    * actual (len, mtime)), delete the pinned originals and their zone
    * entries, then clear the intent and tmp. Safe to re-run from any
    * crash point. */
  private def completeSwap(fs: FileSystem, base: Path,
                           folded: Seq[String], pinned: Seq[String]): Unit = {
    val tmp = new Path(base, TmpDirName)
    // Applicability gate: a durable intent authorizes RESUMING a swap,
    // never resurrecting one into a directory emptied out-of-band
    // (TRUNCATE / unconditional DELETE between a crash and this run).
    // The swap is genuinely in progress iff some pinned original is
    // still present OR some folded file was already moved in (the
    // mid-delete crash window). When NEITHER holds, the table was
    // intentionally emptied after the crash — moving the fold in would
    // resurrect every compacted row — so the stale fold is discarded
    // LOUDLY instead.
    if (pinned.nonEmpty &&
      !pinned.exists(n => fs.exists(new Path(base, n))) &&
      !folded.exists(n => fs.exists(new Path(base, n)))) {
      System.err.println(
        s"[graftcsv] discarding stale compaction intent in $base: none " +
          s"of its ${pinned.size} pinned original(s) nor its " +
          s"${folded.size} folded file(s) remain in the directory (it " +
          "was truncated or emptied after the compaction crashed); " +
          "completing the swap would resurrect deleted rows")
      fs.delete(new Path(base, IntentFile), false)
      fs.delete(tmp, true)
      return
    }
    // the durable folded→replaced record a downstream STREAM needs to
    // classify folded files (see loadFoldLog) — written BEFORE any
    // folded file becomes reader-visible, so a live stream's trigger
    // can never list a folded file whose provenance is not yet on disk.
    // Idempotent across recovery re-runs (deduped on the exact sets);
    // a crash right after this line leaves a log entry for a swap the
    // next run completes anyway.
    appendFoldLog(fs, base, folded, pinned)
    val tmpZones = QuirkCsv.loadZoneMap(tmp.toString)
    folded.foreach { n =>
      val src = new Path(tmp, n)
      val dst = new Path(base, n)
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.delete(dst, false) // re-run of a half-move
        require(fs.rename(src, dst),
          s"graftcsv compaction: rename $src -> $dst failed")
      } else require(fs.exists(dst),
        s"graftcsv compaction intent names folded file '$n' but it " +
          s"exists in neither $tmp nor $base — the intent no longer " +
          "matches the directory; refusing to delete originals")
    }
    // one sidecar write covers both sides of the swap: folded entries in
    // (with the post-move file identity so the staleness key holds),
    // pinned originals' entries out
    val prior = QuirkCsv.loadZoneMap(base.toString)
    val foldedEntries = folded.flatMap { n =>
      tmpZones.get(n).map { e =>
        val st = fs.getFileStatus(new Path(base, n))
        n -> e.copy(len = st.getLen, mtime = st.getModificationTime)
      }
    }.toMap
    val doomed = pinned.toSet
    val merged =
      prior.filter { case (n, _) => !doomed.contains(n) } ++ foldedEntries
    if (merged != prior && (prior.nonEmpty || merged.nonEmpty))
      QuirkCsv.writeZoneMap(base.toString, merged)
    // versioned tables (base = the table root, or a value dir under it):
    // the originals RETIRE into the attic instead of being deleted and
    // the fold is one version-log entry, so VERSION AS OF a pre-fold
    // version reads the original files' bytes. Recovery re-runs are
    // tolerated: commit() skips already-moved retire sources, and a
    // duplicate entry's repeated add/retire events resolve to the same
    // snapshots (the FIRST retirement after a version is the one whose
    // attic holds the bytes).
    QuirkCsvVersions.versionedRootOf(fs, base) match {
      case Some(root) =>
        QuirkCsvVersions.commit(fs, root, "compact",
          folded.map(new Path(base, _)), pinned.map(new Path(base, _)))
      case None => deleteNamed(base.toString, pinned)
    }
    val intent = new Path(base, IntentFile)
    fs.delete(intent, false)
    fs.delete(tmp, true)
  }

  /** Complete a swap a crashed compaction left half-done. Intent absent:
    * discard any orphaned fold tmp (it never became part of the table)
    * and return. Intent present: re-run the idempotent swap. Intent
    * unreadable (unknown header, missing end marker, stray lines):
    * fail LOUDLY with the file left in place — see the object doc. */
  private[graft] def recoverPendingSwap(dir: String): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(hadoopConf)
    val intent = new Path(base, IntentFile)
    if (!fs.exists(intent)) {
      val tmp = new Path(base, TmpDirName)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val itmp = new Path(base, IntentTmpFile)
      if (fs.exists(itmp)) fs.delete(itmp, false)
      return
    }
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(intent), java.nio.charset.StandardCharsets.ISO_8859_1))
    val (folded, pinned) = try {
      val header = in.readLine()
      // v1 (the previous release's append-into-place protocol): the
      // folded copies are already IN the directory and the intent lists
      // exactly the originals to delete — mechanically completable, so
      // keep self-healing across the upgrade instead of demanding manual
      // ops for a crash that predates this build
      if (header == IntentHeaderV1) {
        val names = Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).map(QuirkCsv.decodePinnedName).toList
        in.close()
        completeSwap(fs, base, folded = Nil, pinned = names)
        return
      }
      require(header == IntentHeader,
        s"unrecognized compaction intent header '$header' in $intent — " +
          "this records a half-done swap in a format this build does " +
          "not understand, and deleting or guessing at it could bake " +
          "permanent duplicates into the directory; resolve it manually " +
          "(complete or undo the swap it describes) before compacting")
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toList
      require(lines.lastOption.contains(IntentFooter),
        s"compaction intent $intent is truncated (missing the " +
          s"'$IntentFooter' marker) — refusing to act on a partial " +
          "record of a half-done swap; resolve manually")
      val body = lines.init
      val f = body.collect { case l if l.startsWith("F ") =>
        QuirkCsv.decodePinnedName(l.drop(2)) }
      val d = body.collect { case l if l.startsWith("D ") =>
        QuirkCsv.decodePinnedName(l.drop(2)) }
      require(f.size + d.size == body.size,
        s"compaction intent $intent holds lines that are neither " +
          "folded-file (F) nor delete (D) records — refusing to act " +
          "on a record this build cannot fully parse; resolve manually")
      (f, d)
    } finally in.close()
    completeSwap(fs, base, folded, pinned)
  }

  /** Write the two-set intent to a hidden tmp name and rename it into
    * place: the intent is either absent or complete, never partial. */
  private def writeIntent(fs: FileSystem, base: Path,
                          folded: Seq[String], pinned: Seq[String]): Unit = {
    val tmpP = new Path(base, IntentTmpFile)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmpP, true), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      out.write(IntentHeader); out.write("\n")
      folded.foreach { n =>
        out.write("F "); out.write(QuirkCsv.encodePinned(Seq(n)))
        out.write("\n")
      }
      pinned.foreach { n =>
        out.write("D "); out.write(QuirkCsv.encodePinned(Seq(n)))
        out.write("\n")
      }
      out.write(IntentFooter); out.write("\n")
    } finally out.close()
    val dst = new Path(base, IntentFile)
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmpP, dst),
      s"graftcsv compaction: rename intent $tmpP -> $dst failed")
  }

  /** Append one fold record to the directory's hidden compaction log
    * (`_graft_compact_log/fold-NNNNN.tsv`, one file per completed swap,
    * tmp+rename): the folded file names (F) and the replaced originals
    * (D). This is the provenance a downstream graftcsv STREAM uses to
    * decide whether a folded file's rows were already consumed as their
    * originals (skip) or are genuinely new to it (read) — the restart
    * contract across compaction. Recovery re-runs of the same swap are
    * deduplicated on the exact (folded, pinned) sets. */
  private def appendFoldLog(fs: FileSystem, base: Path,
                            folded: Seq[String], pinned: Seq[String]): Unit = {
    if (folded.isEmpty) return // v1-intent recovery: no mapping to record
    val existing = loadFoldLog(base.toString)
    if (existing.exists(e =>
      e._1.toSet == folded.toSet && e._2.toSet == pinned.toSet)) return
    val dir = new Path(base, FoldLogDirName)
    fs.mkdirs(dir)
    val n = fs.listStatus(dir).count(_.getPath.getName.startsWith("fold-"))
    val dst = new Path(dir, f"fold-$n%05d.tsv")
    val tmp = new Path(dir, f".fold-$n%05d.tsv.tmp")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      out.write(FoldHeader); out.write("\n")
      folded.foreach { x =>
        out.write("F "); out.write(QuirkCsv.encodePinned(Seq(x)))
        out.write("\n")
      }
      pinned.foreach { x =>
        out.write("D "); out.write(QuirkCsv.encodePinned(Seq(x)))
        out.write("\n")
      }
      out.write(IntentFooter); out.write("\n")
    } finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"graftcsv compaction: rename fold log $tmp -> $dst failed")
  }

  /** All completed fold records of a directory, oldest first:
    * (folded file names, replaced original names). Half-written records
    * cannot exist (tmp+rename), but a record that fails to parse is a
    * LOUD error — the stream's exactly-once classification depends on
    * this log being complete, so guessing would risk duplicates. */
  private[graft] def loadFoldLog(dir: String): Seq[(Seq[String], Seq[String])] = {
    val logDir = new Path(new Path(dir), FoldLogDirName)
    val fs = logDir.getFileSystem(hadoopConf)
    if (!fs.exists(logDir)) return Nil
    fs.listStatus(logDir).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("fold-"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(s.getPath), java.nio.charset.StandardCharsets.ISO_8859_1))
        try {
          val header = in.readLine()
          require(header == FoldHeader,
            s"unrecognized fold-log header '$header' in ${s.getPath}")
          val lines = Iterator.continually(in.readLine())
            .takeWhile(_ != null).filter(_.nonEmpty).toList
          require(lines.lastOption.contains(IntentFooter),
            s"fold log ${s.getPath} is truncated")
          val body = lines.init
          val f = body.collect { case l if l.startsWith("F ") =>
            QuirkCsv.decodePinnedName(l.drop(2)) }
          val d = body.collect { case l if l.startsWith("D ") =>
            QuirkCsv.decodePinnedName(l.drop(2)) }
          require(f.nonEmpty && d.nonEmpty && f.size + d.size == body.size,
            s"fold log ${s.getPath} holds unparseable lines")
          (f, d)
        } finally in.close()
      }
  }

  private def deleteNamed(dir: String, names: Seq[String]): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(hadoopConf)
    names.foreach { n =>
      val p = new Path(base, n)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}
