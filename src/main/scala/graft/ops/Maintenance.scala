package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators: MERGE upsert and small-file
  * compaction. Both are first-class jobs in a 100 TB pipeline — the
  * first is how incremental ingest lands (CDC batches, label fixes,
  * re-scraped documents), the second is how a table stays scannable
  * after thousands of incremental writes have fragmented it.
  */
/** Atomic table publication by MANIFEST swap — the commit protocol
  * both maintenance ops publish through. A "table" is a directory
  * holding immutable `data-<version>/` parquet directories plus one
  * `MANIFEST` file naming the current version. Publishing writes a
  * COMPLETE new data directory first, then swaps the manifest with a
  * single same-filesystem rename (atomic on POSIX and HDFS): a reader
  * concurrent with any rewrite resolves either the old or the new
  * version in full — never a mix, never a partially-written directory.
  * This is the lakehouse answer (Iceberg/Delta commit in miniature);
  * plain `mode("overwrite")` to a live path deletes before it writes
  * and has no such guarantee at any scale.
  *
  * ROUND 15: every commit now STAGES its data write under a hidden
  * dot-prefixed directory with NO lock held and enters the
  * cross-process commit lock only for the metadata window (rename
  * staging → live name, sidecar writes, manifest swap, GC) — so a
  * multi-hour 100 TB rewrite can never starve concurrent appenders
  * into lock-timeout failures. Read-modify-write commits (compaction,
  * copy-on-write MERGE) get their lost-update protection from the
  * OPTIMISTIC compare-and-swap in [[casRewrite]] instead of from lock
  * tenure; blind writes (publish = replace, append = commutative) never
  * needed tenure in the first place.
  *
  * Superseded versions are garbage collected by AGE, not by commit
  * count: a commit records each newly-unreferenced directory's
  * supersession time in a tombstone marker, and only directories
  * superseded longer than [[RetentionMsKey]] ago are deleted. The
  * pre-round-14 policy ("two versions retained") deleted version N−1's
  * data at version N+1's commit — at a per-micro-batch commit cadence
  * (the streaming MERGE sink) that window is SECONDS, and any
  * nontrivial concurrent scan of the table got FileNotFound mid-query.
  * The retention window makes reader safety a TIME guarantee
  * independent of commit rate (Delta's VACUUM-retention shape) — and,
  * round 15, doubles as the TIME-TRAVEL window: every swap appends the
  * new segment list to a version log, and [[readAt]] serves any version
  * whose data directories the retention window still holds.
  */
object AtomicPublish {
  private val ManifestFile = "MANIFEST"
  private val LockFile = "_graft_commit_lock"
  private val TombPrefix = "_graft_tomb_"
  private val SegMetaPrefix = "_graft_seg_"
  private val TxnPrefix = "_graft_txnseg_"
  private val VersionsDir = "_graft_versions"
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  // NOTE (round 15): the per-table JVM monitor that used to wrap whole
  // commits is GONE — it serialized the STAGED DATA WRITE too, which
  // re-created in-process exactly the starvation the staged/lock-free
  // commit shape removes cross-process (a slow merge staging held the
  // monitor and parked every same-table appender of the driver). The
  // cross-process lock file is atomic within one JVM as well
  // (exclusive-create), covers only the metadata window, and is the
  // single serialization point for every committer.

  /** Conf: how long a committer waits for the cross-process lock before
    * failing loudly (another publisher is mid-commit). */
  val LockTimeoutMsKey = "spark.graft.manifest.lockTimeoutMs"
  val LockTimeoutMsDefault = 60000L

  /** Conf: lock age past which the holder is presumed dead (crashed
    * mid-commit) and the lock may be broken. Live holders heartbeat, and
    * since round 15 the lock spans only the METADATA window (rename +
    * swap + GC), never a data rewrite. */
  val LockStaleMsKey = "spark.graft.manifest.lockStaleMs"
  val LockStaleMsDefault = 600000L

  /** Conf: how long a SUPERSEDED data version stays on disk before GC
    * may delete it — the reader-safety window AND the time-travel
    * window. A reader that resolved the manifest at version N keeps
    * scanning safely while any number of later commits land, as long as
    * its scan finishes within this window of N's supersession; a
    * [[readAt]] of version N stays valid on the same clock. Size it to
    * the longest expected scan of the table; the storage bill is
    * bounded by (commit rate × version size × retention) — every
    * publish here is a FULL version, so minute-cadence sinks should
    * keep this modest (the default retains ~10 one-minute commits),
    * while slow-scan analytical tables should raise it. 0 restores
    * delete-at-commit (only safe single-reader-single-writer, and
    * forfeits time travel). */
  val RetentionMsKey = "spark.graft.manifest.retentionMs"
  val RetentionMsDefault = 600000L

  /** FAULT-INJECTION SEAM, test-only: invoked at the start of every
    * commit's METADATA window (lock held, nothing swapped yet). The
    * fence/heartbeat specs use it to simulate a GC-pause-plus-theft
    * inside the window — since round 15 staged the data writes outside
    * the lock, no caller-controlled code runs inside it, so the
    * pathological schedules the protocol defends against can only be
    * reproduced through a seam. No-op in production. */
  @volatile private[graft] var commitWindowFault: () => Unit = () => ()

  /** Atomic-exclusive file creation — the cross-process commit
    * primitive. HDFS `create(overwrite=false)` is atomic server-side;
    * the local filesystem goes through NIO `CREATE_NEW` (O_CREAT|O_EXCL)
    * because Hadoop's LocalFileSystem `create(false)` is
    * check-then-create (a TOCTOU window two racing drivers on one box —
    * a scheduler retry — would hit). Returns false when the lock is
    * already held. */
  private def tryCreateExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path,
                                 content: String): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath),
          content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    }

  /** First whitespace-token of the lock file's content — the holder's
    * fencing token. None when the lock is missing or unreadable. */
  private def readLockToken(fs: org.apache.hadoop.fs.FileSystem,
                            lockPath: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val st = fs.getFileStatus(lockPath)
      val in = fs.open(lockPath)
      try {
        val bytes = new Array[Byte](st.getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8").split("\\s+").headOption.filter(_.nonEmpty)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Break a presumed-dead holder's lock via RENAME-TO-TOMBSTONE. The
    * rename is atomic, so of any number of concurrent breakers exactly
    * ONE displaces the lock — the previous delete-based break let
    * breaker B, acting on its pre-race mtime read, delete the FRESH
    * lock breaker C had just re-created, admitting two live holders.
    * Post-rename the displaced file's mtime is re-verified: a lock
    * refreshed between observation and rename (a heartbeat, or a new
    * holder landing in that window) is restored with a no-overwrite
    * rename, RETRIED on transient failure; if every restore attempt
    * fails the tomb is LEFT IN PLACE (round-15 ADVICE fix) — deleting
    * it, as pre-round-15 code did, silently vanished the live holder's
    * lease evidence. A leftover tomb can only delay future stale-breaks
    * (it is swept by [[sweepStaleDebris]] after a day), never admit a
    * second holder; the displaced holder itself is still protected by
    * the swap-time fence ([[swapManifest]]). */
  private def breakStaleLock(fs: org.apache.hadoop.fs.FileSystem,
                             conf: org.apache.hadoop.conf.Configuration,
                             root: org.apache.hadoop.fs.Path,
                             lockPath: org.apache.hadoop.fs.Path,
                             staleMs: Long): Unit = {
    val tomb = new org.apache.hadoop.fs.Path(root,
      s".$LockFile.broken-${counter.incrementAndGet()}-${java.util.UUID.randomUUID()}")
    val renamed =
      try fs.rename(lockPath, tomb)
      catch { case _: java.io.IOException => false }
    if (renamed) {
      val tombM =
        try Some(fs.getFileStatus(tomb).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      tombM match {
        case Some(m) if System.currentTimeMillis() - m > staleMs =>
          // confirmed stale after the atomic displacement: reclaim it
          try { fs.delete(tomb, false); () }
          catch { case _: java.io.IOException => () }
        case Some(_) =>
          // the lock was refreshed between observation and rename — we
          // displaced a LIVE lease; put it back without overwriting
          // (if a new lock landed meanwhile, the displaced holder's
          // swap-time fence keeps the manifest safe)
          def restore(): Boolean =
            try {
              val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
              fc.rename(fs.makeQualified(tomb), fs.makeQualified(lockPath))
              true
            } catch { case _: Throwable => false }
          var attempts = 0
          var ok = restore()
          while (!ok && attempts < 3) {
            attempts += 1; Thread.sleep(25); ok = restore()
          }
          // on persistent failure the tomb STAYS — see scaladoc
        case None => ()
      }
    }
  }

  /** Run `body` holding the table's CROSS-PROCESS commit lock (an
    * exclusive-create lock file at the table root); `body` receives the
    * holder's FENCING TOKEN (also written into the lock file), which
    * [[swapManifest]] re-verifies immediately before the commit rename.
    * The exclusive-create is atomic for THREADS of one driver and for
    * separate DRIVER PROCESSES alike — one serialization point; this
    * lease is what makes the manifest read-modify-write safe when two
    * committers race — a scheduler retry or a backfill racing the
    * daily appender previously lost a segment silently (last manifest
    * swap won). A held lock is waited on up to [[LockTimeoutMsKey]], then
    * the commit fails loudly; a lock whose mtime is older than
    * [[LockStaleMsKey]] is presumed orphaned by a DEAD holder and
    * broken atomically ([[breakStaleLock]]). Staleness keys on mtime,
    * not creation, because a LIVE holder HEARTBEATS the lock (a daemon
    * thread re-touches it every staleMs/3). Since round 15 every data
    * rewrite is staged BEFORE the lock is taken, so lock tenure is the
    * metadata window only — the heartbeat now guards against GC pauses
    * and slow filesystems, not multi-hour writes.
    *
    * FILESYSTEM CONTRACT: the lease needs atomic exclusive-create,
    * atomic rename, and `setTimes` — POSIX and HDFS provide them.
    * Object stores (S3 and friends) don't, reliably; there the
    * industry answer is an external lock service next to the commit
    * log (Delta's S3 LogStore shape), deliberately out of scope for a
    * dependency-free library — run maintenance single-writer per
    * table on such stores. */
  private def withCommitLock[A](spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path)
                               (body: String => A): A = {
    val lockPath = new org.apache.hadoop.fs.Path(root, LockFile)
    val conf = spark.sparkContext.hadoopConfiguration
    val timeoutMs = spark.conf.getOption(LockTimeoutMsKey)
      .map(_.toLong).getOrElse(LockTimeoutMsDefault)
    val staleMs = spark.conf.getOption(LockStaleMsKey)
      .map(_.toLong).getOrElse(LockStaleMsDefault)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      if (tryCreateExclusive(fs, lockPath,
        s"$token pid=${ProcessHandle.current().pid()} " +
          s"t=${System.currentTimeMillis()}")) acquired = true
      else {
        val mtime =
          try Some(fs.getFileStatus(lockPath).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        mtime match {
          case Some(m) if System.currentTimeMillis() - m > staleMs =>
            // presumed-dead holder (heartbeat stopped): break the lock
            // atomically; the retry loop's exclusive create then
            // decides who acquires
            breakStaleLock(fs, conf, root, lockPath, staleMs)
          case _ =>
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"manifest commit lock at $lockPath held past $timeoutMs ms " +
                  s"($LockTimeoutMsKey): another publisher is committing this " +
                  s"table — retry after it finishes, or if its holder is dead " +
                  s"the lock breaks itself after $staleMs ms ($LockStaleMsKey)")
            Thread.sleep(25)
        }
      }
    }
    // lease heartbeat: keep the holder visibly alive while the commit
    // runs — a holder paused past staleMs (GC pause, slow fs) would
    // otherwise have its lock stolen MID-COMMIT. Each beat first checks
    // the lock still carries OUR token: a stolen lease must not be
    // kept artificially fresh by its zombie.
    // The beat waits on a latch, not in sleep slices: release counts it
    // down and the join below returns as soon as an in-flight beat (if
    // any) finishes, instead of waiting out the current sleep.
    val beatEvery = math.max(25L, staleMs / 3)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      var stopped = false
      while (!stopped) {
        try {
          if (readLockToken(fs, lockPath).contains(token))
            fs.setTimes(lockPath, System.currentTimeMillis(), -1)
        } catch { case _: Throwable => () }
        stopped = stop.await(beatEvery, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
    }, s"graft-manifest-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body(token)
    finally {
      // join BEFORE the delete: a beat must never touch a released lock
      stop.countDown(); beat.join(1000)
      // release ONLY our own lock: after a lease theft the path holds
      // the new holder's lock, which the zombie must not delete
      try {
        if (readLockToken(fs, lockPath).contains(token)) {
          fs.delete(lockPath, false); ()
        }
      } catch { case _: Throwable => () }
    }
  }

  /** Run `body` under this table's cross-process commit lock without
    * committing anything — for protocol-adjacent metadata writes that
    * must not tear against a concurrent commit (e.g. the expectations
    * sidecar, [[Expectations.set]]). Keep bodies METADATA-SIZED: the
    * lock serializes every committer of the table. */
  private[ops] def withTableLock[A](spark: SparkSession, tablePath: String)
      (body: (org.apache.hadoop.fs.FileSystem,
              org.apache.hadoop.fs.Path) => A): A = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    withCommitLock(spark, fs, root) { _ => body(fs, root) }
  }

  /** Record-and-reap GC of data directories the just-committed manifest
    * no longer references; MUST run under the commit lock. Each
    * unreferenced `data-*` directory gets a tombstone marker stamping
    * its supersession time on first observation, and is deleted only
    * once that stamp is older than [[RetentionMsKey]] — so a reader
    * that resolved any earlier manifest keeps its data for at least the
    * retention window no matter how fast later commits land. Tombstones
    * are `_`-prefixed (invisible to parquet readers and source
    * stamping) and are reaped with their directory, as are the
    * directory's zonemap/upsert sidecars. Version-log entries age out
    * on the same retention clock (all directories they reference are
    * deleted on it — see [[readAt]]); the LATEST entry always survives,
    * it names the live manifest. */
  private def gcSuperseded(spark: SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path,
                           live: Set[String]): Unit = {
    val retentionMs = spark.conf.getOption(RetentionMsKey)
      .map(_.toLong).getOrElse(RetentionMsDefault)
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(root)
    val dirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("data-")).toSet
    val tombs = entries
      .filter(f => !f.isDirectory && f.getPath.getName.startsWith(TombPrefix))
      .map(f => f.getPath.getName.stripPrefix(TombPrefix) -> f.getModificationTime)
      .toMap
    def rmQuiet(name: String): Unit =
      try { fs.delete(new org.apache.hadoop.fs.Path(root, name), false); () }
      catch { case _: java.io.IOException => () }
    // orphaned markers (directory already gone) — reap
    tombs.keys.filterNot(dirs).foreach(d => rmQuiet(TombPrefix + d))
    dirs.filterNot(live).foreach { d =>
      // the tombstone's MTIME is the supersession clock (what every
      // later pass reads); the epoch written as content is forensics
      // for a human inspecting the table, not a second source of truth
      val supersededAt = tombs.getOrElse(d, {
        val out = fs.create(new org.apache.hadoop.fs.Path(root, TombPrefix + d), true)
        try out.write(now.toString.getBytes("UTF-8")) finally out.close()
        now
      })
      if (now - supersededAt >= retentionMs) {
        fs.delete(new org.apache.hadoop.fs.Path(root, d), true)
        rmQuiet(TombPrefix + d)
        rmQuiet(SegMetaPrefix + d)
        rmQuiet(TxnPrefix + d)
        rmQuiet(ZoneMaps.ZonePrefix + d)
        rmQuiet(BloomMaps.BloomPrefix + d)
      }
    }
    // version-log retention: an entry older than the window references
    // only directories the window has already released (every version
    // naming a dir predates that dir's supersession), except the latest
    // entry, which IS the live manifest
    val vd = new org.apache.hadoop.fs.Path(root, VersionsDir)
    if (fs.exists(vd)) {
      val vfiles = fs.listStatus(vd).filter(!_.isDirectory)
      // fold markers (`NNNN.fold`) age out with their version entry;
      // `latest` must be computed over NUMERIC names only, or a marker
      // would lexicographically shadow the live manifest's entry
      val numeric = vfiles.filter(_.getPath.getName.toLongOption.isDefined)
      if (numeric.nonEmpty) {
        val latest = numeric.map(_.getPath.getName).max
        vfiles.filter { f =>
          val base = f.getPath.getName.stripSuffix(FoldSuffix)
          base != latest && now - f.getModificationTime >= retentionMs
        }.foreach(f =>
          try { fs.delete(f.getPath, false); () }
          catch { case _: java.io.IOException => () })
      }
    }
  }

  /** Sweep hidden debris a crashed committer abandoned: staging
    * directories (`.pub-*` / `.seg-*` / `.compact-*` — data writes
    * staged outside the lock that never committed) and broken-lock
    * tombs, all older than a day. A LIVE rewrite older than that is
    * conceivable only at extreme scale — raise the constant in source
    * if yours runs past a day. */
  private def sweepStaleDebris(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path): Unit = {
    val before = System.currentTimeMillis() - 24L * 3600 * 1000
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { f =>
      val n = f.getPath.getName
      val staging = f.isDirectory && (n.startsWith(".pub-") ||
        n.startsWith(".seg-") || n.startsWith(".compact-"))
      val tomb = !f.isDirectory && n.startsWith(s".$LockFile.broken-")
      if ((staging || tomb) && f.getModificationTime < before) {
        try { fs.delete(f.getPath, staging); () }
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** The commit point: write the manifest content to a temp file and
    * RENAME it over `MANIFEST` — one rename, atomic-with-overwrite on
    * the same filesystem — then append the committed segment list to
    * the version log (time travel's clock; see [[readAt]]).
    *
    * On HDFS that is `FileContext.rename(…, OVERWRITE)` (Hdfs
    * overrides `renameInternal` with a genuinely atomic overwrite).
    * On the LOCAL filesystem it is NIO `ATOMIC_MOVE` — round 14 found
    * (via the streaming tail's continuous manifest polling) that the
    * local FileContext path falls back to AbstractFileSystem's
    * default delete-then-rename, which has a missing-MANIFEST window
    * a concurrent reader can hit; the NIO move also skips Hadoop's
    * `.crc` sidecars (the stale destination sidecar is removed so
    * ChecksumFileSystem readers never verify new bytes against an old
    * checksum). The same local-vs-HDFS dual path as
    * [[tryCreateExclusive]].
    *
    * FENCED: immediately before the rename the lock file is re-read
    * and must still carry `fenceToken` — a holder that lost its lease
    * (paused past the stale threshold, lock broken, a new holder
    * acquired) fails LOUDLY here instead of clobbering the new
    * holder's manifest last-write-wins. Residue: a thief landing in
    * the gap between this read and the rename is still clobbered —
    * closing that needs a filesystem with compare-and-swap or an
    * external lock service (the Delta/Iceberg endgame); the fence
    * narrows the zombie-writer window from the WHOLE commit to one
    * read-rename gap.
    *
    * The version-log append runs AFTER the successful rename: a crash
    * in between leaves one committed version without a log entry —
    * time travel to it is unavailable (loud error), the next commit
    * logs normally, and the manifest itself (the correctness surface)
    * was never at risk. */
  private def swapManifest(fs: org.apache.hadoop.fs.FileSystem,
                           conf: org.apache.hadoop.conf.Configuration,
                           root: org.apache.hadoop.fs.Path,
                           content: String,
                           fenceToken: String,
                           fold: Boolean = false): Unit = {
    val lockPath = new org.apache.hadoop.fs.Path(root, LockFile)
    if (!readLockToken(fs, lockPath).contains(fenceToken))
      throw new IllegalStateException(
        s"commit fenced at $root: this holder's lease was lost mid-commit " +
          "(paused past the stale threshold and the lock was broken, or an " +
          "out-of-protocol writer replaced the lock) — the manifest was NOT " +
          "swapped; re-run the commit")
    val manifest = new org.apache.hadoop.fs.Path(root, ManifestFile)
    if (fs.getScheme == "file") {
      val rootLocal = java.nio.file.Paths.get(
        fs.makeQualified(root).toUri.getPath)
      val tmp = rootLocal.resolve(
        s".manifest-${counter.incrementAndGet()}.tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      // a checksum sidecar from any pre-NIO-era commit would be stale
      // against the moved bytes — reads must never verify against it
      java.nio.file.Files.deleteIfExists(rootLocal.resolve(s".$ManifestFile.crc"))
      java.nio.file.Files.move(tmp, rootLocal.resolve(ManifestFile),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } else {
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".manifest-${counter.incrementAndGet()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(manifest),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // version log: one immutable numbered snapshot per commit, written
    // under the same lock every swap holds, so numbering races can't
    // happen by construction
    try {
      val vd = new org.apache.hadoop.fs.Path(root, VersionsDir)
      fs.mkdirs(vd)
      val next = latestVersionIn(fs, root).map(_._1).getOrElse(0L) + 1
      val out = fs.create(new org.apache.hadoop.fs.Path(vd, f"$next%012d"), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      // fold marker: declares this commit CONTENT-PRESERVING (a
      // compaction/optimize rewrite — same logical rows, new bytes) so
      // the change feed can diff THROUGH it instead of refusing. The
      // non-numeric name is invisible to every version-number listing
      // (they parse via toLongOption).
      if (fold) {
        val fo = fs.create(
          new org.apache.hadoop.fs.Path(vd, f"$next%012d$FoldSuffix"), true)
        fo.close()
      }
    } catch {
      case _: java.io.IOException => () // log-only failure: see scaladoc
    }
  }

  /** Version-log sidecar suffix marking a commit as a content-preserving
    * fold (compaction / clustering rewrite) — see [[swapManifest]]. */
  private val FoldSuffix = ".fold"

  /** Was `version` committed as a content-preserving FOLD (compaction /
    * optimize rewrite)? Such a commit changes the segment list but not
    * one logical row — [[changesBetween]] emits nothing for it and
    * diffs straight through. */
  def isFoldVersion(spark: SparkSession, tablePath: String,
                    version: Long): Boolean = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(root,
      new org.apache.hadoop.fs.Path(VersionsDir,
        f"$version%012d$FoldSuffix").toString))
  }

  private def latestVersionIn(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path)
      : Option[(Long, org.apache.hadoop.fs.Path)] = {
    val vd = new org.apache.hadoop.fs.Path(root, VersionsDir)
    if (!fs.exists(vd)) None
    else fs.listStatus(vd).filter(!_.isDirectory)
      .flatMap(f => f.getPath.getName.toLongOption.map(_ -> f.getPath))
      .sortBy(_._1).lastOption
  }

  /** Run `write` against a fresh versioned data directory under
    * `tablePath`, then atomically point the manifest at it.
    * Returns the published data-directory name.
    *
    * Concurrency contract: READERS are always safe against any number
    * of concurrent publishers (the manifest swap is the only mutation
    * they observe). PUBLISHERS of one table serialize only for the
    * METADATA window: the data write runs against a hidden `.pub-*`
    * staging directory with NO lock held (round 15 — a huge publish no
    * longer starves appenders), then the commit lock covers rename +
    * swap + GC. publish REPLACES the table, so racing publishers are
    * last-writer-wins by design — read-modify-write flows must use
    * [[appendSegment]] (commutative) or [[casRewrite]]/[[compactSegments]]
    * (optimistic CAS) instead. */
  def publish(spark: SparkSession, tablePath: String)
             (write: String => Unit): String =
    publishCrossProcess(spark, tablePath)(write)

  /** The cross-process commit path of [[publish]] (no JVM fast-path
    * lock) — package-private so the racing-writers spec can drive two
    * simulated driver processes through it. */
  private[graft] def publishCrossProcess(spark: SparkSession, tablePath: String)
                                        (write: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    sweepStaleDebris(fs, root)
    val stamp = s"${System.currentTimeMillis()}-${counter.incrementAndGet()}"
    val staging = new org.apache.hadoop.fs.Path(root, s".pub-$stamp")
    val dataDir = s"data-$stamp"
    // the (possibly enormous) data write: NO lock held
    try write(fs.makeQualified(staging).toString)
    catch { case t: Throwable => fs.delete(staging, true); throw t }
    val zones = ZoneMaps.harvestSegment(spark,
      fs.makeQualified(staging).toString)
    val blooms = BloomMaps.harvestSegment(spark,
      fs.makeQualified(staging).toString)
    commitStaged(fs, staging) { withCommitLock(spark, fs, root) { token =>
      commitWindowFault()
      require(fs.rename(staging, new org.apache.hadoop.fs.Path(root, dataDir)),
        s"publish: staging rename failed at $staging")
      ZoneMaps.write(fs, root, dataDir, zones)
      BloomMaps.write(fs, root, dataDir, blooms)
      swapManifest(fs, conf, root, dataDir, token)
      // age-based GC of everything the new manifest no longer references
      gcSuperseded(spark, fs, root, live = Set(dataDir))
      dataDir
    } }
  }

  /** IN-PLACE CONVERSION of a plain parquet directory into a published
    * graft table — Delta's `CONVERT TO DELTA` move, and for the same
    * reason: adopting an existing 100 TB parquet lake must cost
    * METADATA, not a rewrite. The part files are RENAMED (same
    * filesystem, zero bytes moved) into a fresh `data-*` segment
    * directory, zonemap/bloom sidecars are harvested from the footers
    * already on disk, and the MANIFEST + version-log entry commit
    * under the same lock window every other commit uses — after which
    * the directory IS a graft table (appendable, MERGEable,
    * time-travels from version 1).
    *
    * Contract: the directory must hold parquet part files at its top
    * level only — partitioned (`k=v/`) or nested layouts refuse loudly
    * (read-and-publish is the path for those; an in-place adoption
    * that silently dropped subdirectories would corrupt the table).
    * An existing graft table refuses. Crash safety: files move inside
    * the lock window directly into the FINAL segment directory — a
    * crash mid-move leaves some files at root and some in a `data-*`
    * dir with NO manifest (not yet a table); re-running the
    * conversion detects that exact debris shape and RESUMES into the
    * same directory, so no crash point strands data in an
    * unconvertible state. (No dot-staging here, deliberately: staging
    * holds the ONLY copy of the user's files, and the day-old debris
    * sweep that makes publish's staging safe to reap would DELETE
    * user data on this path.)
    *
    * Returns (files moved this run, committed version = 1). */
  def convertInPlace(spark: SparkSession, tablePath: String): (Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"convertInPlace: $tablePath does not exist")
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "MANIFEST")),
      s"convertInPlace: $tablePath is already a graft table")
    val entries = fs.listStatus(root)
    val parts = entries.filter(f => !f.isDirectory &&
      f.getPath.getName.endsWith(".parquet"))
    val subdirs = entries.filter(f => f.isDirectory &&
      !f.getPath.getName.startsWith(".") &&
      !f.getPath.getName.startsWith("_"))
    // resume debris from a crashed previous conversion: exactly the
    // data-* dirs this method itself creates, before any MANIFEST
    val (resumeDirs, foreignDirs) =
      subdirs.partition(_.getPath.getName.startsWith("data-"))
    require(foreignDirs.isEmpty,
      s"convertInPlace: $tablePath contains subdirectories " +
        s"(${foreignDirs.map(_.getPath.getName).mkString(", ")}) — " +
        "partitioned or nested layouts cannot be adopted in place; read " +
        "the directory and AtomicPublish.publish instead")
    require(resumeDirs.length <= 1,
      s"convertInPlace: $tablePath holds ${resumeDirs.length} data-* " +
        "directories but no MANIFEST — not a recognizable conversion " +
        "debris shape; inspect manually")
    require(parts.nonEmpty || resumeDirs.nonEmpty,
      s"convertInPlace: no .parquet part files at the top level of " +
        s"$tablePath")
    val dataDir = resumeDirs.headOption.map(_.getPath.getName).getOrElse(
      s"data-${System.currentTimeMillis()}-${counter.incrementAndGet()}")
    val segPath = new org.apache.hadoop.fs.Path(root, dataDir)
    withCommitLock(spark, fs, root) { token =>
      fs.mkdirs(segPath)
      parts.foreach { f =>
        require(fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(segPath, f.getPath.getName)),
          s"convertInPlace: rename failed for ${f.getPath}")
      }
      // footer harvest AFTER the moves (reads only metadata; the files
      // are already where the sidecar will describe them)
      val seg = fs.makeQualified(segPath).toString
      ZoneMaps.write(fs, root, dataDir, ZoneMaps.harvestSegment(spark, seg))
      BloomMaps.write(fs, root, dataDir, BloomMaps.harvestSegment(spark, seg))
      swapManifest(fs, conf, root, dataDir, token)
    }
    (parts.length,
      currentVersion(spark, tablePath).getOrElse(sys.error(
        s"convertInPlace committed at $tablePath but the version log is " +
          "unreadable")))
  }

  /** Reclaim an orphaned staging directory when the commit step itself
    * fails (lock timeout, fence) — the staged bytes were never
    * published and would otherwise linger until the day-old sweep. */
  private def commitStaged[A](fs: org.apache.hadoop.fs.FileSystem,
                              staging: org.apache.hadoop.fs.Path)
                             (commit: => A): A =
    try commit
    catch {
      case t: Throwable =>
        try { fs.delete(staging, true); () } catch { case _: Throwable => () }
        throw t
    }

  /** APPEND a segment: the manifest is a NEWLINE-SEPARATED SEGMENT
    * LIST (a one-line manifest is the single-segment special case
    * every older table already satisfies), and an append writes ONLY
    * the new segment's data then swaps in a manifest naming old + new
    * — the LSM shape a 100 TB daily-growing table needs, where
    * re-publishing the whole table per day ([[publish]]) would rewrite
    * corpus-sized data for a batch-sized change. Readers concurrent
    * with an append resolve the old or the new segment LIST in full —
    * never a partial segment. No GC here: every prior segment stays
    * live; [[compactSegments]] (or a fresh [[publish]]) collapses the
    * segment list back to one and GCs. */
  def appendSegment(spark: SparkSession, tablePath: String)
                   (write: String => Unit): String =
    appendSegmentCrossProcess(spark, tablePath)(write)

  /** The cross-process commit path of [[appendSegment]] (no JVM
    * fast-path lock) — package-private so the racing-writers spec can
    * simulate two DRIVER PROCESSES appending the same table. The data
    * write stages under a hidden `.seg-*` directory with NO lock held;
    * the manifest read-modify-write is then a COMPARE-AND-SWAP under
    * the cross-process commit lock: the segment list is (re-)read
    * INSIDE the commit window, so a segment committed by a racing
    * appender between this appender's intent and its swap lands in
    * `prev` and survives — the pre-round-13 shape (read prev outside
    * any cross-process coordination, then rename-with-overwrite) let
    * the last writer silently erase the other's segment, the first
    * thing a scheduler retry breaks in production. The post-swap
    * read-back verifies the committed list under the same lock; a
    * mismatch means an out-of-protocol writer touched the manifest and
    * fails loudly. */
  private[graft] def appendSegmentCrossProcess(spark: SparkSession,
                                               tablePath: String)
                                              (write: String => Unit): String =
    appendSegmentCore(spark, tablePath, marker = None)(write)

  /** Append an UPSERT segment — the merge-on-read write path
    * ([[MergeInto.upsertInto]]): the batch lands as a normal segment
    * plus a `_graft_seg_<dir>` sidecar marking it `upsert` on `keys`.
    * [[read]]/[[readOver]] reconcile at scan time (a row survives iff
    * no LATER upsert segment claims its key), and
    * [[MergeInto.compactMerged]] folds the reconciliation into a fresh
    * base via the optimistic CAS. Per-commit cost is ∝ THE BATCH —
    * never the table — which is what a per-micro-batch MERGE sink
    * needs at 100 TB.
    *
    * Schema contract (round-15 evolution support): the source may ADD
    * columns only when [[MergeInto.AllowEvolutionKey]] is set (readers
    * null-backfill older segments); a source MISSING existing columns
    * is refused loudly — silently dropping a column under merge
    * semantics corrupts every non-matched row. All upsert segments of
    * one table must agree on `keys`. */
  def appendUpsertSegment(spark: SparkSession, tablePath: String,
                          keys: Seq[String])
                         (write: String => Unit): String = {
    require(keys.nonEmpty, "appendUpsertSegment: empty key list")
    appendSegmentCore(spark, tablePath,
      marker = Some(("upsert", keys)))(write)
  }

  /** Append a DELETE (tombstone) segment — the merge-on-read row-level
    * DELETE write path ([[MergeInto.deleteFrom]]): the segment holds
    * ONLY the key columns of the rows to remove, plus a
    * `_graft_seg_<dir>` sidecar marking it `delete` on `keys`. Readers
    * drop any earlier row whose key a later tombstone claims (a later
    * upsert RE-INSERTS the key — the ordinal is the version clock),
    * and [[MergeInto.compactMerged]] folds tombstones away entirely.
    * Per-commit cost is ∝ THE DELETED-KEY SET — a 1-row delete against
    * a 100 TB table writes one tiny parquet file and swaps a manifest;
    * the Iceberg equality-delete shape. */
  def appendDeleteSegment(spark: SparkSession, tablePath: String,
                          keys: Seq[String])
                         (write: String => Unit): String = {
    require(keys.nonEmpty, "appendDeleteSegment: empty key list")
    appendSegmentCore(spark, tablePath,
      marker = Some(("delete", keys)))(write)
  }

  /** Append SEVERAL segments in ONE commit (one manifest swap) — the
    * atomicity [[MergeInto.syncInto]] needs to land an upsert batch
    * and its not-matched tombstones together. Parts are
    * `(marker, write)` pairs in manifest order; markers follow the
    * [[appendUpsertSegment]]/[[appendDeleteSegment]] shapes. */
  private[graft] def appendSegments(
      spark: SparkSession, tablePath: String,
      parts: Seq[(Option[(String, Seq[String])], String => Unit)])
      : Seq[String] =
    appendSegmentsTxnCore(spark, tablePath, parts, txn = None)
      .getOrElse(sys.error("unreachable: non-txn append never skips"))

  private def appendSegmentCore(spark: SparkSession, tablePath: String,
                                marker: Option[(String, Seq[String])])
                               (write: String => Unit): String =
    appendSegmentTxnCore(spark, tablePath, marker, txn = None)(write)
      .getOrElse(sys.error("unreachable: non-txn append never skips"))

  /** EXACTLY-ONCE writer markers — the Delta `txnAppId`/`txnVersion`
    * shape, what a restarted foreachBatch sink needs: Structured
    * Streaming replays the last micro-batch after a crash, and without
    * a transaction fence the replayed `(appId, batchId)` lands its
    * rows TWICE. Each idempotent append records `(appId, version)` in
    * a per-segment sidecar that becomes visible atomically with the
    * manifest swap; a later append with the same appId and a
    * `version <= ` the recorded high-water mark is SKIPPED (returns
    * None) — checked cheaply before staging (a replay never even
    * writes its data) and authoritatively again INSIDE the commit
    * window (two racing replays cannot both land).
    *
    * Durability across folds: [[casRewrite]]/[[casRewriteMulti]] carry
    * the observed segments' high-water marks forward onto the rewrite
    * output, so compaction never forgets an applied batch. Crash
    * between sidecar write and swap leaves an orphaned sidecar on a
    * non-live directory — ignored by the check, reaped by GC; the
    * batch correctly retries. */
  private def appendSegmentTxnCore(spark: SparkSession, tablePath: String,
                                   marker: Option[(String, Seq[String])],
                                   txn: Option[(String, Long)])
                                  (write: String => Unit): Option[String] =
    appendSegmentsTxnCore(spark, tablePath, Seq(marker -> write), txn)
      .map(_.head)

  /** N staged segments, ONE commit — the multi-part generalization of
    * the append core that [[MergeInto.syncInto]] needs: a full-sync
    * MERGE lands its upsert batch AND its not-matched-by-source
    * tombstones in a single manifest swap, so a reader concurrent with
    * the sync sees the pre-sync or post-sync table in full, never the
    * half-applied middle (upserted but not yet deleted). Every part
    * stages with NO lock held; the lock window is rename + sidecars +
    * one swap, exactly like the single-segment path. Parts keep
    * manifest order — within a commit the ordinal clock ranks them by
    * position, which [[changesBetween]] mirrors. */
  private def appendSegmentsTxnCore(
      spark: SparkSession, tablePath: String,
      parts: Seq[(Option[(String, Seq[String])], String => Unit)],
      txn: Option[(String, Long)]): Option[Seq[String]] = {
    require(parts.nonEmpty, "appendSegments: empty part list")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    require(currentSegments(spark, tablePath).nonEmpty,
      s"appendSegment: no published version (MANIFEST) at $tablePath — " +
        "publish a base segment first")
    // fast-path replay check, NO lock and NO data write: foreachBatch
    // retries are the common caller and their batch is already applied
    txn.foreach { case (appId, version) =>
      if (txnVersionFor(spark, tablePath, appId).exists(_ >= version))
        return None
    }
    sweepStaleDebris(fs, root)
    case class Staged(staging: org.apache.hadoop.fs.Path, dataDir: String,
                      marker: Option[(String, Seq[String])],
                      zones: Map[String, ZoneMaps.ColZone],
                      blooms: Map[String, BloomMaps.ColBloom])
    val staged = scala.collection.mutable.ArrayBuffer.empty[Staged]
    def dropStaged(): Unit = staged.foreach { st =>
      try { fs.delete(st.staging, true); () } catch { case _: Throwable => () }
    }
    // batch-sized data writes: NO lock held
    try parts.foreach { case (marker, write) =>
      val stamp = s"${System.currentTimeMillis()}-${counter.incrementAndGet()}"
      val staging = new org.apache.hadoop.fs.Path(root, s".seg-$stamp")
      val entry = Staged(staging, s"data-$stamp", marker,
        Map.empty, Map.empty)
      staged += entry
      graft.engine.JobLabel(spark,
        s"graft: stage ${marker.map(_._1).getOrElse("append")} segment " +
          root.getName) {
        write(fs.makeQualified(staging).toString)
      }
      marker.foreach { case (tag, keys) =>
        checkMergeContract(spark, tablePath,
          fs.makeQualified(staging).toString, tag, keys)
      }
      staged(staged.size - 1) = entry.copy(
        zones = ZoneMaps.harvestSegment(spark,
          fs.makeQualified(staging).toString),
        blooms = BloomMaps.harvestSegment(spark,
          fs.makeQualified(staging).toString))
    } catch { case t: Throwable => dropStaged(); throw t }
    try withCommitLock(spark, fs, root) { token =>
      commitWindowFault()
      val prev = currentSegments(spark, tablePath)
      require(prev.nonEmpty,
        s"appendSegment: table at $tablePath lost its published version " +
          "while waiting for the commit lock")
      // authoritative replay check, INSIDE the commit window: a racing
      // duplicate that committed between the fast-path check and this
      // lock acquisition is visible in `prev`'s sidecars now
      val replayed = txn.exists { case (appId, version) =>
        txnMarks(spark, tablePath, prev).get(appId).exists(_ >= version)
      }
      if (replayed) { dropStaged(); None }
      else {
        staged.foreach { st =>
          require(fs.rename(st.staging,
              new org.apache.hadoop.fs.Path(root, st.dataDir)),
            s"appendSegment: staging rename failed at ${st.staging}")
          // the merge sidecar must be durable BEFORE the swap: a reader
          // that resolves the new manifest but missed the marker would
          // union the batch as plain appends — duplicate keys instead
          // of overrides (upsert), or tombstone keys surfacing as DATA
          // ROWS (delete)
          st.marker.foreach { case (tag, keys) =>
            val out = fs.create(new org.apache.hadoop.fs.Path(root,
              SegMetaPrefix + st.dataDir), true)
            try out.write(s"$tag\t${keys.mkString(",")}".getBytes("UTF-8"))
            finally out.close()
          }
          ZoneMaps.write(fs, root, st.dataDir, st.zones)
          BloomMaps.write(fs, root, st.dataDir, st.blooms)
        }
        // txn mark too: it must become visible ATOMICALLY with the swap
        // (a crash in between leaves it orphaned on a non-live dir —
        // ignored, retried, reaped); one mark on the first part covers
        // the whole commit (all parts land or none do)
        txn.foreach { case (appId, version) =>
          writeTxnMarks(fs, root, staged.head.dataDir, Map(appId -> version))
        }
        val dirs = staged.map(_.dataDir).toSeq
        swapManifest(fs, conf, root, (prev ++ dirs).mkString("\n"), token)
        val committed = currentSegments(spark, tablePath)
        require(committed == prev ++ dirs,
          s"appendSegment: manifest verify failed at $tablePath — expected " +
            s"${(prev ++ dirs).mkString(",")} but read " +
            s"${committed.mkString(",")}; an out-of-protocol writer " +
            "modified the manifest inside the commit window")
        Some(dirs)
      }
    } catch { case t: Throwable => dropStaged(); throw t }
  }

  /** The recorded exactly-once high-water mark for `appId` over the
    * LIVE segment list — the version of the last applied transactional
    * append ([[appendSegmentTxn]]); None when the app never committed
    * (or its segments aged out past a fold without carry-forward,
    * which the fold prevents). */
  def txnVersionFor(spark: SparkSession, tablePath: String,
                    appId: String): Option[Long] =
    txnMarks(spark, tablePath, currentSegments(spark, tablePath)).get(appId)

  /** Write `marks` (appId → version) as `dataDir`'s txn sidecar; no-op
    * for an empty map. MUST run under the commit lock, before the
    * manifest swap that makes `dataDir` live. */
  private def writeTxnMarks(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            dataDir: String,
                            marks: Map[String, Long]): Unit =
    if (marks.nonEmpty) {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, TxnPrefix + dataDir), true)
      try out.write(marks.toSeq.sortBy(_._1)
        .map { case (a, v) => s"$a\t$v" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** appId → max recorded version over `segs`' txn sidecars (read
    * through the segment descriptors, [[segmentMetas]]). */
  private def txnMarks(spark: SparkSession, tablePath: String,
                       segs: Seq[String]): Map[String, Long] = {
    val fs = fsOf(spark, tablePath)
    segmentMetas(spark, tablePath, segs).flatMap(_.txnMarks(fs))
      .groupBy(_._1).map { case (a, vs) => a -> vs.map(_._2).max }
  }

  /** Idempotent [[appendSegment]]: the batch lands EXACTLY ONCE per
    * `(appId, version)` — a replay (same appId, version <= the
    * recorded high-water mark) is skipped and returns None without
    * even staging its data. The foreachBatch contract: appId = a
    * stable sink identity (e.g. the query's checkpoint id), version =
    * `batchId`. */
  def appendSegmentTxn(spark: SparkSession, tablePath: String,
                       appId: String, version: Long)
                      (write: String => Unit): Option[String] = {
    require(appId.nonEmpty && !appId.contains("\t") && !appId.contains("\n"),
      s"txn appId must be nonempty without tab/newline: `$appId`")
    appendSegmentTxnCore(spark, tablePath, marker = None,
      txn = Some((appId, version)))(write)
  }

  /** Idempotent [[appendUpsertSegment]] — the exactly-once MERGE sink
    * write path (see [[MergeInto.upsertIntoTxn]]). */
  def appendUpsertSegmentTxn(spark: SparkSession, tablePath: String,
                             keys: Seq[String], appId: String, version: Long)
                            (write: String => Unit): Option[String] = {
    require(keys.nonEmpty, "appendUpsertSegmentTxn: empty key list")
    require(appId.nonEmpty && !appId.contains("\t") && !appId.contains("\n"),
      s"txn appId must be nonempty without tab/newline: `$appId`")
    appendSegmentTxnCore(spark, tablePath,
      marker = Some(("upsert", keys)), txn = Some((appId, version)))(write)
  }

  /** Pre-commit contract checks for a merge-on-read segment (against
    * the STAGED write, before anything becomes visible): key presence,
    * key agreement with prior upsert/delete segments, and — for
    * upserts — the schema-evolution rules of [[appendUpsertSegment]].
    * Delete tombstones must be EXACTLY the key columns: extra columns
    * in a tombstone are dead bytes at best and a mis-projected source
    * (the caller deleted the wrong thing) at worst, so they fail
    * loudly. */
  private def checkMergeContract(spark: SparkSession, tablePath: String,
                                 stagedPath: String,
                                 tag: String,
                                 keys: Seq[String]): Unit = {
    val stagedFields = segmentFieldNames(spark, stagedPath)
    val stagedNames = stagedFields.map(_.toLowerCase).toSet
    keys.foreach(k => require(stagedNames.contains(k.toLowerCase),
      s"$tag into $tablePath: merge key `$k` missing from the source batch"))
    val current = currentSegments(spark, tablePath)
    val existingMarked = mergeSidecarsFor(spark, tablePath, current)
    existingMarked.values.headOption.foreach { case (_, priorKeys) =>
      require(priorKeys.map(_.toLowerCase) == keys.map(_.toLowerCase),
        s"$tag into $tablePath: pending merge segments key on " +
          s"(${priorKeys.mkString(",")}) but this batch keys on " +
          s"(${keys.mkString(",")}) — fold the table first " +
          "(MergeInto.compactMerged) before changing merge keys")
    }
    if (tag == "delete") {
      val extra = stagedFields.filterNot(n =>
        keys.exists(_.equalsIgnoreCase(n)))
      require(extra.isEmpty,
        s"delete into $tablePath: tombstone batch carries non-key " +
          s"column(s) ${extra.mkString(", ")} — project to exactly " +
          s"(${keys.mkString(",")}) before appendDeleteSegment")
      return
    }
    // column-NAME set of the current table, from each segment's cached
    // footer descriptor — building the reconciled read's plan here (as
    // the first cut did) costs ~0.5 s of datasource resolution PER MERGE
    // and grows with pending segments; names are all the contract needs
    // (type incompatibilities fail loudly at read time via unionByName)
    val fs = fsOf(spark, tablePath)
    val currentFields: Seq[String] = segmentMetas(spark, tablePath, current)
      .flatMap(_.footer(fs).toSeq.flatMap(_.fieldNames)).distinct
    val currentNames = currentFields.map(_.toLowerCase).toSet
    val dropped = currentFields.filterNot(n =>
      stagedNames.contains(n.toLowerCase))
    require(dropped.isEmpty,
      s"upsert into $tablePath: source batch is MISSING existing column(s) " +
        s"${dropped.mkString(", ")} — a merge that silently dropped them " +
        "would corrupt every non-matched row; align the source schema")
    val added = stagedFields.filterNot(n =>
      currentNames.contains(n.toLowerCase))
    if (added.nonEmpty) {
      val allow = spark.conf.getOption(MergeInto.AllowEvolutionKey)
        .exists(_.toBoolean)
      require(allow,
        s"upsert into $tablePath: source batch ADDS column(s) " +
          s"${added.mkString(", ")}; set ${MergeInto.AllowEvolutionKey}=true " +
          "to accept schema evolution (existing rows read back NULL there)")
    }
  }

  /** Outcome of [[compactSegments]]/[[casRewrite]]'s optimistic commit. */
  sealed trait CompactOutcome
  object CompactOutcome {
    /** The rewrite committed; `dataDir` is the new single segment. */
    final case class Compacted(dataDir: String) extends CompactOutcome
    /** The table had fewer segments than the rewrite's minimum —
      * nothing to do. */
    case object AlreadyCompact extends CompactOutcome
    /** Every attempt found the segment list changed between its read
      * and its commit window (the table is being appended faster than
      * it compacts). NOTHING was modified — safe to retry. */
    case object LostRace extends CompactOutcome
  }

  /** Collapse a SEGMENTED table to one fresh segment under OPTIMISTIC
    * concurrency — [[casRewrite]] with the ≥2-segments guard. NOTE:
    * the caller-provided `write` receives the observed segment PATHS
    * raw; tables carrying pending UPSERT segments must reconcile
    * (use [[MergeInto.compactMerged]], whose rewrite is the reconciled
    * [[readOver]]) — a plain union re-materializes overridden rows. */
  def compactSegments(spark: SparkSession, tablePath: String,
                      maxAttempts: Int = 3)
                     (write: (Seq[String], String) => Unit): CompactOutcome =
    casRewrite(spark, tablePath, maxAttempts, minSegments = 2)(write)

  /** REWRITE a table's data under OPTIMISTIC concurrency: read the
    * segment list, run the (possibly huge)
    * `write(observedSegmentPaths, stagingPath)` rewrite with NO lock
    * held, then take the commit lock and swap ONLY IF the segment
    * list is still exactly what the rewrite consumed — otherwise
    * discard the staging output and retry against the new list. Two
    * hazards die here at once: (a) a segment committed by a racing
    * appender between the list read and the swap can no longer be
    * silently dropped from the manifest (the CAS aborts instead), and
    * (b) the commit lock is held only for the rename+swap+GC window
    * (milliseconds), never for the rewrite itself — so a multi-hour
    * 100 TB compaction cannot starve concurrent daily appends into
    * lock-timeout failures.
    *
    * The rewrite stages under a hidden `.compact-*` directory
    * (invisible to [[gcSuperseded]], which only considers `data-*`),
    * renamed into the live namespace inside the commit window — a
    * metadata-only move. A holder that crashes mid-rewrite leaks its
    * staging directory; entry sweeps day-old leftovers. */
  private[graft] def casRewrite(spark: SparkSession, tablePath: String,
                                maxAttempts: Int, minSegments: Int,
                                fold: Boolean = true)
                               (write: (Seq[String], String) => Unit): CompactOutcome = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    sweepStaleDebris(fs, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val observed = currentSegments(spark, tablePath)
      if (observed.size < minSegments) return CompactOutcome.AlreadyCompact
      val stamp = s"${System.currentTimeMillis()}-${counter.incrementAndGet()}"
      val staging = new org.apache.hadoop.fs.Path(root, s".compact-$stamp")
      val dataDir = s"data-$stamp"
      try graft.engine.JobLabel(spark,
          s"graft: cas rewrite ${root.getName}") {
        write(observed.map(d => s"$tablePath/$d"),
          fs.makeQualified(staging).toString)
      } catch { case t: Throwable => fs.delete(staging, true); throw t }
      val zones = ZoneMaps.harvestSegment(spark,
        fs.makeQualified(staging).toString)
      val blooms = BloomMaps.harvestSegment(spark,
        fs.makeQualified(staging).toString)
      val committed = commitStaged(fs, staging) {
        withCommitLock(spark, fs, root) { token =>
        commitWindowFault()
        if (currentSegments(spark, tablePath) == observed) {
          require(fs.rename(staging, new org.apache.hadoop.fs.Path(root, dataDir)),
            s"casRewrite: staging rename failed at $staging")
          ZoneMaps.write(fs, root, dataDir, zones)
          BloomMaps.write(fs, root, dataDir, blooms)
          // exactly-once durability: the folded segments' txn
          // high-water marks move onto the rewrite output — compaction
          // must never forget an applied (appId, version) or a sink
          // replay after the fold would re-land its batch
          writeTxnMarks(fs, root, dataDir, txnMarks(spark, tablePath, observed))
          // `fold` declares the commit content-preserving; a cow-mode
          // MERGE/DELETE/SYNC rewrite CHANGES rows and must not claim
          // it — pre-round-16 every casRewrite stamped fold, so the
          // change feed silently diffed THROUGH a cow merge emitting
          // zero change rows for rows that actually changed
          swapManifest(fs, conf, root, dataDir, token, fold = fold)
          gcSuperseded(spark, fs, root, live = Set(dataDir))
          true
        } else false
      } }
      if (committed) return CompactOutcome.Compacted(dataDir)
      fs.delete(staging, true) // lost the race: discard, re-observe
    }
    CompactOutcome.LostRace
  }

  /** Multi-segment variant of [[casRewrite]] — same optimistic shape
    * (stage with NO lock, CAS-swap under the lock, retry on conflict),
    * but the rewrite stages `seg-*` SUBDIRECTORIES under the staging
    * root and the commit publishes each as its own `data-*` segment.
    * This is what a CLUSTERING rewrite needs: range-disjoint output
    * segments whose per-segment zonemaps actually prune (one fused
    * output directory would collapse the manifest back to a single
    * prune-nothing segment). Outcome semantics match [[casRewrite]];
    * `Compacted.dataDir` carries the FIRST new segment (callers wanting
    * the full list read the manifest). */
  private[ops] def casRewriteMulti(spark: SparkSession, tablePath: String,
                                   maxAttempts: Int, minSegments: Int)
                                  (write: (Seq[String], String) => Unit)
      : CompactOutcome =
    casRewriteMultiSelect(spark, tablePath, maxAttempts, minSegments,
      select = obs => (obs, Nil), onCommit = (_, _, _) => ())(write)

  /** [[casRewriteMulti]] generalized to PARTIAL rewrites: per attempt,
    * `select(observed)` splits the observed segment list into
    * (rewrite, keep) — only the rewrite set feeds `write`, the keep
    * set stays in place untouched (same dirs, same sidecars) and the
    * committed manifest is keep ++ staged outputs. An empty rewrite
    * set returns AlreadyCompact. `onCommit(fs, root, newManifest)`
    * runs INSIDE the lock window after the staged renames and before
    * the swap — the hook cluster metadata needs to stay atomic with
    * the manifest (a crash in between leaves the OLD manifest live and
    * the hook's output naming not-yet-live segments, which readers of
    * the metadata must treat as invalid). This is what INCREMENTAL
    * OPTIMIZE rides: rewrite cost ∝ the affected segments, never the
    * corpus. */
  private[ops] def casRewriteMultiSelect(
      spark: SparkSession, tablePath: String,
      maxAttempts: Int, minSegments: Int,
      select: Seq[String] => (Seq[String], Seq[String]),
      onCommit: (org.apache.hadoop.fs.FileSystem,
                 org.apache.hadoop.fs.Path, Seq[String]) => Unit,
      fold: Boolean = true)
      (write: (Seq[String], String) => Unit): CompactOutcome = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    sweepStaleDebris(fs, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val observed = currentSegments(spark, tablePath)
      if (observed.size < minSegments) return CompactOutcome.AlreadyCompact
      val (rewrite, keep) = select(observed)
      require(rewrite.forall(observed.contains) && keep.forall(observed.contains)
        && (rewrite ++ keep).toSet.size == observed.size,
        s"casRewriteMultiSelect: select must PARTITION the observed list " +
          s"(observed=$observed rewrite=$rewrite keep=$keep)")
      if (rewrite.isEmpty) return CompactOutcome.AlreadyCompact
      val stamp = s"${System.currentTimeMillis()}-${counter.incrementAndGet()}"
      val staging = new org.apache.hadoop.fs.Path(root, s".compact-$stamp")
      try write(rewrite.map(d => s"$tablePath/$d"),
        fs.makeQualified(staging).toString)
      catch { case t: Throwable => fs.delete(staging, true); throw t }
      val stagedSegs = fs.listStatus(staging).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("seg-")).sorted.toSeq
      require(stagedSegs.nonEmpty,
        s"casRewriteMulti: the rewrite staged no seg-* subdirectories " +
          s"under $staging — stage each output segment as seg-<i>")
      val names = stagedSegs.map(sd => sd -> s"data-$stamp-${sd.stripPrefix("seg-")}")
      val metas = names.map { case (sd, dataDir) =>
        val stagedPath = fs.makeQualified(
          new org.apache.hadoop.fs.Path(staging, sd)).toString
        (sd, dataDir, ZoneMaps.harvestSegment(spark, stagedPath),
          BloomMaps.harvestSegment(spark, stagedPath))
      }
      val committed = commitStaged(fs, staging) {
        withCommitLock(spark, fs, root) { token =>
          commitWindowFault()
          if (currentSegments(spark, tablePath) == observed) {
            metas.foreach { case (sd, dataDir, zones, blooms) =>
              require(fs.rename(new org.apache.hadoop.fs.Path(staging, sd),
                new org.apache.hadoop.fs.Path(root, dataDir)),
                s"casRewriteMulti: staging rename failed at $staging/$sd")
              ZoneMaps.write(fs, root, dataDir, zones)
              BloomMaps.write(fs, root, dataDir, blooms)
            }
            // exactly-once carry-forward (see casRewrite): the folded
            // (rewritten) segments' txn marks land on the FIRST output
            // segment's sidecar; kept segments keep their own
            writeTxnMarks(fs, root, names.head._2,
              txnMarks(spark, tablePath, rewrite))
            fs.delete(staging, true) // now-empty staging shell
            val manifest = keep ++ names.map(_._2)
            onCommit(fs, root, manifest)
            // `fold` declares the commit CONTENT-PRESERVING in the
            // version log; a rewrite that CHANGES rows (replaceWhere)
            // must not claim it — the change feed would silently diff
            // through a commit that altered data
            swapManifest(fs, conf, root, manifest.mkString("\n"), token,
              fold = fold)
            gcSuperseded(spark, fs, root, live = manifest.toSet)
            true
          } else false
        }
      }
      if (committed) return CompactOutcome.Compacted(names.head._2)
      fs.delete(staging, true) // lost the race: discard, re-observe
    }
    CompactOutcome.LostRace
  }

  /** OPTIMIZE the table's physical layout by CLUSTERING on `clusterBy`
    * — the Delta `OPTIMIZE … ZORDER BY` / liquid-clustering role for
    * this protocol, and the missing half of manifest data skipping:
    * zonemaps prune segments whose min/max EXCLUDE the predicate, but
    * arrival-ordered appends give every segment the full key range, so
    * an unclustered table's zonemaps prove nothing. This rewrite
    * range-partitions the reconciled table into `segments`
    * RANGE-DISJOINT segments (lexicographic on `clusterBy`), each
    * sorted within — so after it, (a) the manifest prunes a range/point
    * predicate to the few admitting segments, and (b) within each
    * surviving segment parquet row-group stats prune again (rows
    * arrive sorted). Pending merge-on-read segments are RECONCILED
    * into the rewrite (same as [[MergeInto.compactMerged]]); the fold
    * and the clustering are one pass.
    *
    * Concurrency: the [[casRewriteMulti]] optimistic shape — the
    * (corpus-sized) clustering shuffle runs with NO lock held; a
    * racing append aborts the swap and the rewrite retries against the
    * new list. Cost: ONE range-partition shuffle of the table — the
    * textbook pay-once-to-prune-forever trade; run it at compaction
    * cadence, not per batch.
    *
    * One output FILE per range bucket by default (each range partition
    * is one write task): size `segments` so table_bytes/segments lands
    * near the row-group-friendly file size you want (e.g. 1 GB), or
    * set `spark.sql.files.maxRecordsPerFile` to split each range into
    * several files — a task's extra files share its part index, so
    * they land in the SAME output segment and disjointness holds. AQE
    * may coalesce small adjacent ranges — fewer, still-disjoint
    * segments. */
  def optimizeTable(spark: SparkSession, tablePath: String,
                    clusterBy: Seq[String], segments: Int,
                    maxAttempts: Int = 3,
                    onlyNew: Boolean = false): CompactOutcome = {
    require(clusterBy.nonEmpty, "optimizeTable: empty clusterBy")
    require(segments >= 2,
      s"optimizeTable: need >= 2 output segments for pruning, got $segments")
    if (onlyNew) return optimizeNewSegments(spark, tablePath, clusterBy,
      segments, maxAttempts)
    casRewriteMultiSelect(spark, tablePath, maxAttempts, minSegments = 1,
      select = obs => (obs, Nil),
      onCommit = (fs, root, manifest) =>
        writeClusterMeta(fs, root, clusterBy, manifest)) {
      (paths, staging) =>
        clusterRewrite(spark, tablePath, paths, staging, clusterBy, segments)
    }
  }

  /** The clustering rewrite body shared by full and incremental
    * OPTIMIZE: reconcile the input segments, range-partition into
    * `nOut` sorted buckets, and regroup each range's files into a
    * `seg-<i>` staging subdirectory ([[casRewriteMulti]]'s contract). */
  private def clusterRewrite(spark: SparkSession, tablePath: String,
                             paths: Seq[String], staging: String,
                             clusterBy: Seq[String], nOut: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
    val df = readOver(spark, tablePath, dirs)
    val cols = clusterBy.map(col)
    df.repartitionByRange(nOut, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.parquet(s"$staging/flat")
    // each range partition wrote its own part-<partitionId> file(s):
    // regroup them into one seg-<partitionId> directory apiece —
    // driver-side renames, metadata-only. Empty ranges wrote no
    // file and yield no segment.
    val flatPath = new org.apache.hadoop.fs.Path(staging, "flat")
    val fs = flatPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partRe = "part-(\\d+)-.*".r
    fs.listStatus(flatPath).filter(!_.isDirectory).foreach { f =>
      f.getPath.getName match {
        case partRe(idx) =>
          val seg = new org.apache.hadoop.fs.Path(staging, s"seg-$idx")
          fs.mkdirs(seg)
          require(fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(seg, f.getPath.getName)),
            s"optimizeTable: file regroup rename failed for ${f.getPath}")
        case _ => () // _SUCCESS and friends stay behind in flat/
      }
    }
    fs.delete(flatPath, true)
  }

  /** INCREMENTAL OPTIMIZE (`optimizeTable(onlyNew = true)`): fold ONLY
    * the segments committed since the last clustering into the
    * existing range-disjoint layout, rewriting the few clustered
    * segments the new data actually touches and keeping the rest in
    * place — cost ∝ new data + affected ranges, never the corpus. On a
    * 100 TB table with daily appends this is the difference between a
    * nightly corpus rewrite and a nightly fold of one day's bytes.
    *
    * Mechanics: [[optimizeTable]] records its output layout in a
    * `_graft_cluster` sidecar (cluster columns + clustered segment
    * list, written atomically with the manifest). Incremental runs
    * split the current manifest into that clustered base + NEW
    * segments, then mark a clustered segment AFFECTED when (a) its
    * cluster-column zone overlaps a new data segment's (the new rows
    * belong inside its range), or (b) a new MERGE segment's key-column
    * zones overlap its key zones (its rows may be claimed/deleted —
    * upserts and tombstones FOLD here, exactly like compactMerged, so
    * the output is reconciled and sidecar-free). Zone evidence is
    * conservative: missing zones mean affected. The rewrite
    * re-range-partitions (affected ∪ new) at the existing layout's
    * output granularity (bytes/segment of the kept base); unaffected
    * segments keep their directories, sidecars, and txn marks
    * untouched, and the commit is the usual optimistic CAS + fold
    * marker. Tables with no valid cluster sidecar (never optimized,
    * folded flat, restored) degrade to the FULL clustering rewrite. */
  private def optimizeNewSegments(spark: SparkSession, tablePath: String,
                                  clusterBy: Seq[String], segments: Int,
                                  maxAttempts: Int): CompactOutcome = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // select→write handoff: the output granularity is derived from the
    // KEPT layout chosen by select in the same attempt
    var nOut = segments
    casRewriteMultiSelect(spark, tablePath, maxAttempts, minSegments = 1,
      select = { observed =>
        clusterMeta(spark, tablePath) match {
          case Some((cols, clustered))
              if cols.map(_.toLowerCase) == clusterBy.map(_.toLowerCase) &&
                clustered.nonEmpty && clustered.forall(observed.contains) =>
            val clusteredSet = clustered.toSet
            val newSegs = observed.filterNot(clusteredSet)
            if (newSegs.isEmpty) (Nil, observed)
            else {
              val affected = affectedClusteredSegments(spark, tablePath,
                clustered, newSegs, clusterBy)
              var rewrite = observed.filter(d =>
                affected(d) || !clusteredSet(d))
              // a delete-only batch must still fold against ≥1 data
              // segment (readOver refuses an all-tombstone list)
              val side = mergeSidecarsFor(spark, tablePath, rewrite)
              if (rewrite.forall(d => side.get(d).exists(_._1 == "delete")))
                rewrite = observed.filter(d =>
                  d == clustered.head || rewrite.contains(d))
              val keep = observed.filterNot(rewrite.toSet)
              // granularity of the existing layout: avg bytes of the
              // clustered base (fallback: the full-optimize target)
              val clusteredBytes = clustered.map(segmentBytes(fs, root, _))
              val avg = if (clusteredBytes.nonEmpty)
                clusteredBytes.sum / clusteredBytes.length else 0L
              val rewriteBytes = rewrite.map(segmentBytes(fs, root, _)).sum
              nOut = if (avg > 0)
                math.max(1, math.ceil(rewriteBytes.toDouble / avg).toInt)
              else segments
              (rewrite, keep)
            }
          case _ =>
            nOut = segments
            (observed, Nil) // no valid layout metadata: full rewrite
        }
      },
      onCommit = (fsc, rootc, manifest) =>
        writeClusterMeta(fsc, rootc, clusterBy, manifest)) {
      (paths, staging) =>
        clusterRewrite(spark, tablePath, paths, staging, clusterBy, nOut)
    }
  }

  /** Clustered segments a batch of new segments TOUCHES: cluster-range
    * overlap for data rows, key-range overlap for merge claims —
    * zone-evidence based, conservative on absence. Multi-column
    * clusterBy tests the FIRST column (lexicographic layout: the
    * leading column dominates range placement — conservative for the
    * rest). */
  private def affectedClusteredSegments(spark: SparkSession,
                                        tablePath: String,
                                        clustered: Seq[String],
                                        newSegs: Seq[String],
                                        clusterBy: Seq[String]): Set[String] = {
    val zones = zonesFor(spark, tablePath, clustered ++ newSegs)
    val zonesOf = (d: String) => zones.getOrElse(d, Map.empty[String, ZoneMaps.ColZone])
    val side = mergeSidecarsFor(spark, tablePath, newSegs)
    val cCol = clusterBy.head.toLowerCase
    def cmpZ(tag: String, a: String, b: String): Int =
      if (tag == "string") a.compareTo(b)
      else BigDecimal(a).compare(BigDecimal(b))
    def overlap(a: Option[ZoneMaps.ColZone],
                b: Option[ZoneMaps.ColZone]): Boolean = (a, b) match {
      case (Some(x), Some(y)) if x.tag == y.tag =>
        (x.min, x.max, y.min, y.max) match {
          case (Some(xm), Some(xM), Some(ym), Some(yM)) =>
            cmpZ(x.tag, xm, yM) <= 0 && cmpZ(x.tag, ym, xM) <= 0
          // bound-less zone = zero rows or all-NULL: no comparable
          // rows to place, and all-NULL merge keys never claim
          case _ => false
        }
      case _ => true // missing zone evidence → conservatively affected
    }
    clustered.filter { old =>
      val oz = zonesOf(old)
      newSegs.exists { n =>
        val nz = zonesOf(n)
        val isDelete = side.get(n).exists(_._1 == "delete")
        // tombstones carry keys only — range placement doesn't apply
        val rangeHit = !isDelete && overlap(oz.get(cCol), nz.get(cCol))
        val claimHit = side.get(n).exists { case (_, keys) =>
          keys.forall(k => overlap(oz.get(k.toLowerCase),
            nz.get(k.toLowerCase)))
        }
        rangeHit || claimHit
      }
    }.toSet
  }

  /** Bytes of a segment's parquet leaves (layout-granularity math). */
  private def segmentBytes(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path,
                           d: String): Long =
    fs.listStatus(new org.apache.hadoop.fs.Path(root, d))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum

  /** Cluster-layout sidecar (`_graft_cluster`): the columns and the
    * segment list of the last OPTIMIZE commit, written inside its lock
    * window. Readers must validate the segment list against the
    * CURRENT manifest — a fold/restore/republish that bypassed
    * optimize leaves the sidecar stale, which [[optimizeTable]]'s
    * incremental path treats as "no layout" (full rewrite). */
  val ClusterFile = "_graft_cluster"

  private def writeClusterMeta(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               cols: Seq[String],
                               segs: Seq[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(root, ClusterFile), true)
    try out.write((s"cols\t${cols.mkString(",")}" +:
      segs.map(s => s"seg\t$s")).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The recorded cluster layout, if any: (cluster columns, clustered
    * segment dirs). No validation against the live manifest here —
    * callers own that (the sidecar may be stale; see [[ClusterFile]]). */
  def clusterMeta(spark: SparkSession, tablePath: String)
      : Option[(Seq[String], Seq[String])] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root, ClusterFile)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val text =
        try {
          val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(bytes)
          new String(bytes, "UTF-8")
        } finally in.close()
      var cols = Seq.empty[String]
      val segs = scala.collection.mutable.ArrayBuffer.empty[String]
      text.linesIterator.filter(_.nonEmpty).foreach { line =>
        line.split("\t", 2) match {
          case Array("cols", c) => cols = c.split(",").map(_.trim).toSeq
          case Array("seg", s) => segs += s.trim
          case _ => return None // torn sidecar: treat as no layout
        }
      }
      if (cols.nonEmpty && segs.nonEmpty) Some((cols, segs.toSeq)) else None
    } catch { case _: java.io.IOException => None }
  }

  /** The full segment list the manifest currently names (empty when
    * unpublished). Single-segment tables return one entry.
    *
    * Tolerates the LOCAL filesystem's checksum-sidecar race: Hadoop's
    * ChecksumFileSystem renames a file and its `.crc` in two steps, so
    * a reader polling the manifest concurrently with a commit's rename
    * (the streaming tail does exactly that) can transiently see the
    * new MANIFEST against the old checksum. The read retries briefly —
    * the window is the gap between the two renames. HDFS/object stores
    * don't materialize client-side crc sidecars this way. */
  def currentSegments(spark: SparkSession, tablePath: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    val m = new org.apache.hadoop.fs.Path(root, ManifestFile)
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        if (!fs.exists(m)) return Nil
        val in = fs.open(m)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(m).getLen.toInt)
          in.readFully(bytes)
          return new String(bytes, "UTF-8").linesIterator.map(_.trim)
            .filter(_.nonEmpty).toSeq
        } finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          if (attempt >= 40) throw e
          Thread.sleep(25)
        case e: java.io.EOFException =>
          // open↔stat race with a concurrent swap: the stream reads
          // the OLD manifest while getFileStatus already reports the
          // NEW (longer) one — readFully hits EOF. Retry resolves to
          // a consistent open/stat pair. (Surfaced by a streaming
          // tail polling against concurrent SQL INSERT commits.)
          if (attempt >= 40) throw e
          Thread.sleep(25)
        case _: java.io.FileNotFoundException =>
          // exists↔open race with a concurrent swap: retry resolves to
          // the new manifest
          if (attempt >= 40) return Nil
          Thread.sleep(25)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The BASE data directory (first manifest segment), if published —
    * the home of table-level sidecar metadata; data readers should use
    * [[read]]/[[currentSegments]], which see every segment. */
  def currentDataDir(spark: SparkSession, tablePath: String): Option[String] =
    currentSegments(spark, tablePath).headOption

  /** Merge-on-read sidecars (`upsert` or `delete` markers) among
    * `segs`: dir → (tag, merge keys). Any marker — either tag — means
    * the segment list needs read-time reconciliation ([[readOver]]);
    * the tag decides whether the segment's rows are DATA (upsert) or
    * pure tombstones (delete). Read through the segment descriptors
    * ([[segmentMetas]]): a warm table answers without touching disk. */
  def mergeSidecarsFor(spark: SparkSession, tablePath: String,
                       segs: Seq[String]): Map[String, (String, Seq[String])] = {
    val fs = fsOf(spark, tablePath)
    segmentMetas(spark, tablePath, segs)
      .flatMap(m => m.marker(fs).map(m.dir -> _)).toMap
  }

  /** Segments among `segs` carrying ANY merge-on-read marker (upsert
    * OR delete), dir → merge keys. The "does this segment list need
    * reconciliation / must this consumer refuse it" predicate — the
    * streaming tail and the path-based SQL source both key on it. */
  def upsertSidecarsFor(spark: SparkSession, tablePath: String,
                        segs: Seq[String]): Map[String, Seq[String]] =
    mergeSidecarsFor(spark, tablePath, segs).map {
      case (d, (_, keys)) => d -> keys
    }

  /** Reader side of the protocol: resolve the manifest, read every
    * segment it names, and RECONCILE pending merge-on-read upsert
    * segments (see [[readOver]]). One manifest read per query plan —
    * the scan itself binds to the immutable versioned directories. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    currentSegments(spark, tablePath) match {
      case Nil => throw new IllegalStateException(
        s"no published version (MANIFEST) at $tablePath")
      case segs => readOver(spark, tablePath, segs)
    }

  /** Read an explicit segment list of a table, reconciling any of its
    * segments marked `upsert` ([[appendUpsertSegment]]).
    *
    * Plain tables (no upsert sidecars among `segs`) take the zero-cost
    * path: one multi-directory parquet scan, byte-identical to every
    * pre-round-15 read. Merge-on-read tables pay ONE extra join:
    *
    *   survivors = rows whose key is NOT claimed by any LATER upsert
    *   segment (the segment ordinal is the version clock)
    *
    * planned as rows ⟕ (distinct upsert keys → max claiming ordinal),
    * filtered on `claimOrd ≤ rowOrd`. The right side is ∝ the upsert
    * batches landed SINCE THE LAST FOLD — compaction keeps it small, so
    * AQE broadcasts it and the reconciliation never reshuffles the
    * corpus. Rows with NULL merge keys are never overridden (SQL join
    * semantics) — they always accumulate, documented behavior.
    *
    * Schema evolution: segments are union'd BY NAME with null backfill
    * for columns a segment predates; column order is first-appearance
    * (base segment's order, then additions in commit order). Only
    * reachable when [[MergeInto.AllowEvolutionKey]] admitted the
    * evolution at write time. */
  def readOver(spark: SparkSession, tablePath: String,
               segs: Seq[String]): DataFrame = {
    require(segs.nonEmpty, s"readOver: empty segment list for $tablePath")
    val side = mergeSidecarsFor(spark, tablePath, segs)
    if (side.isEmpty)
      committedScan(spark, tablePath, segs)
    else {
      val keys = side.values.head._2 // key agreement enforced at write
      val ordCol = "__graft_seg_ord"
      val claimCol = "__graft_claim_ord"
      val segOrd = segs.zipWithIndex.toMap
      // DELETE tombstone segments hold only the key columns and are
      // never data — they contribute CLAIMS (read separately, below)
      // while the data scan spans the non-delete segments only, so the
      // uniform-schema fast path survives tombstones.
      val delSegs = segs.filter(d => side.get(d).exists(_._1 == "delete"))
      val dataSegs = segs.filterNot(d => side.get(d).exists(_._1 == "delete"))
      require(dataSegs.nonEmpty,
        s"readOver: segment list of $tablePath is all delete tombstones — " +
          "the base segment is missing (corrupt manifest?)")
      def checkReserved(names: Seq[String]): Unit =
        require(!names.exists(c => c.equalsIgnoreCase(ordCol) ||
            c.equalsIgnoreCase(claimCol)),
          s"readOver: table at $tablePath uses reserved column name " +
            s"$ordCol/$claimCol")
      // segment ordinal from the scan's _metadata.file_path — a
      // DETERMINISTIC projection (unlike input_file_name, whose
      // nondeterminism blocked ALL filter pushdown through this
      // project, silently disabling predicate pushdown and zonemap
      // skipping on every merge-pending read). Dir names are unique
      // (timestamp+counter), so the parent-dir substring identifies
      // the segment; a file outside every known segment fails LOUDLY
      // instead of silently mis-reconciling.
      def ordFromPath(over: Seq[String]) = over.foldRight(
        raise_error(concat(lit(s"readOver: file outside known segments of " +
          s"$tablePath: "), col("_metadata.file_path"))).cast("int")) {
        (d, acc) =>
          when(col("_metadata.file_path").contains(s"/$d/"), lit(segOrd(d)))
            .otherwise(acc)
      }
      val delClaims: Option[DataFrame] =
        if (delSegs.isEmpty) None
        else Some(prunedSegmentScan(spark, tablePath, delSegs)
          .select(keys.map(col) :+ ordFromPath(delSegs).as(ordCol): _*))
      def reconcile(tagged: DataFrame, canon: Seq[String],
                    upClaims: Option[DataFrame]): DataFrame = {
        val events = (upClaims.toSeq ++ delClaims.toSeq).reduce(_ unionByName _)
        val claims = events
          .groupBy(keys.map(col): _*)
          .agg(max(col(ordCol)).as(claimCol))
        tagged.join(claims, keys, "left")
          .filter(col(claimCol).isNull || col(claimCol) <= col(ordCol))
          .select(canon.map(col): _*)
      }
      // claims come from a SCAN OF THE UPSERT SEGMENTS ONLY (like the
      // tombstones above) — pre-round-16 the claims subtree filtered
      // the FULL data scan by ordinal, re-reading every base segment's
      // key column per reconciled read; the claims side is ∝ the
      // pending batches, and on a 100 TB table the difference is one
      // corpus key-scan per read
      val upSegs = dataSegs.filter(side.contains)
      // uniform-schema fast path (the common, un-evolved case, decided
      // from the segments' cached footer descriptors): ONE datasource
      // resolution over all segment dirs, with the segment ordinal
      // derived from the file path. The per-segment resolution below
      // costs ~0.1 s PER SEGMENT of driver time — a per-micro-batch
      // MERGE sink constructs this plan on every commit, so
      // construction cost is a recurring constant worth engineering
      // down. Uniformity compares the TYPED footer signature
      // ([[schemaSignature]]: names, types, nullability), not names
      // alone: a same-name type-evolved segment must take the
      // per-segment path below, whose unionByName casts or refuses
      // like inference would.
      if (segmentsUniform(spark, tablePath, dataSegs)) {
        // zonemap/bloom-aware scan: a pushed predicate skips whole DATA
        // segments even while merges are pending (the claims join only
        // ever REMOVES rows, so dropping rows the predicate already
        // excludes is safe; claim segments prune only through KEY
        // predicates, which push through the claims aggregation)
        val all = prunedSegmentScan(spark, tablePath, dataSegs)
        val canon = all.schema.fieldNames.toSeq
        checkReserved(canon)
        val upClaims =
          if (upSegs.isEmpty) None
          else Some(prunedSegmentScan(spark, tablePath, upSegs,
              schemaHint = Some(all.schema))
            .select(keys.map(col) :+ ordFromPath(upSegs).as(ordCol): _*))
        reconcile(all.withColumn(ordCol, ordFromPath(dataSegs)), canon,
          upClaims)
      } else {
        // evolved segments: per-segment reads union'd BY NAME with null
        // backfill; column order is first-appearance (base order, then
        // additions in commit order)
        val perSeg = dataSegs.map(d => committedScan(spark, tablePath, Seq(d)))
        val canon = perSeg.foldLeft(Vector.empty[String]) { (acc, df) =>
          acc ++ df.schema.fieldNames.filterNot(n =>
            acc.exists(_.equalsIgnoreCase(n)))
        }
        checkReserved(canon)
        val tagged = perSeg.zip(dataSegs)
          .map { case (df, d) => df.withColumn(ordCol, lit(segOrd(d))) }
          .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
        val upClaims =
          if (upSegs.isEmpty) None
          else Some(upSegs.map(d =>
            committedScan(spark, tablePath, Seq(d))
              .select(keys.map(col): _*)
              .withColumn(ordCol, lit(segOrd(d))))
            .reduce(_ unionByName _))
        reconcile(tagged, canon, upClaims)
      }
    }
  }

  /** Multi-segment parquet scan whose file index consults the
    * segments' zonemap/bloom sidecars against the query's PUSHED data
    * filters (the same [[graft.sources.GraftZonePruningFileIndex]] the
    * DSv2 door uses — the V1 FileSourceScanExec hands dataFilters to
    * `listFiles` the same way). This is what makes data skipping work
    * UNDER PENDING MERGES: the DSv2 source refuses unreconciled
    * tables, so without this, a point lookup on an actively-merged
    * table scanned every segment until a fold landed. Falls back to a
    * plain parquet read when no segment carries a sidecar (identical
    * plan to pre-round-16). Zones, blooms and the schema come from the
    * segment descriptors ([[segmentMetas]]). */
  private def prunedSegmentScan(spark: SparkSession, tablePath: String,
                                segs: Seq[String],
                                schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val zones = zonesFor(spark, tablePath, segs)
    val blooms = bloomsFor(spark, tablePath, segs)
    if (zones.isEmpty && blooms.isEmpty) committedScan(spark, tablePath, segs)
    else {
      val paths = segs.map(d => s"$tablePath/$d")
      // schema from the caller when it already resolved one (schema
      // uniformity is the fast-path precondition), else from ONE
      // segment's FOOTER — never a multi-dir re-resolution, and no
      // schema-inference job at all in the common footer-stamped case
      val dataSchema = schemaHint
        .orElse(committedSchema(spark, tablePath, segs.head))
        .getOrElse(spark.read.parquet(paths.head).schema)
      val idx = new graft.sources.GraftZonePruningFileIndex(spark,
        paths.map(new org.apache.hadoop.fs.Path(_)), Map.empty, None,
        zones, blooms)
      org.apache.spark.sql.graftbridge.GraftSqlBridge
        .parquetDataFrame(spark, idx, dataSchema)
    }
  }

  /** Full Spark schema of a segment from ONE parquet footer's
    * key-value metadata (Spark stamps its StructType JSON under
    * `org.apache.spark.sql.parquet.row.metadata` on every write, and
    * every segment is graft-written). Round-16 optimization: in Spark 4
    * each `spark.read.parquet(...)` schema resolution launches a
    * 1-task FOOTER-READING JOB (~30-90 ms of job-launch latency) — a
    * commit-heavy key pays that job once per snapshot/segment read per
    * refresh, so the protocol paths resolve schemas driver-side from
    * the footer instead (KeyStatsProbe: 19 of mv_incremental's 55 jobs
    * were these). `asNullable` matches the file-source read path, which
    * relaxes every field. None when the sidecar metadata is absent
    * (non-Spark parquet) — callers fall back to datasource resolution.
    *
    * UNCACHED: for directories that are not (yet) committed segments —
    * staged writes, the replay landing dir. Committed segments read
    * their schema through [[segmentMetas]]. */
  private[graft] def segmentSchemaFromFooter(spark: SparkSession,
      segPath: String): Option[org.apache.spark.sql.types.StructType] =
    try readFooter(fsOf(spark, segPath), new org.apache.hadoop.fs.Path(segPath))
      .flatMap(_.schema)
    catch { case scala.util.control.NonFatal(_) => None }

  /** File-source reads relax every field to nullable (SPARK-11360);
    * mirror of the private `asNullable` so footer schemas match what a
    * datasource resolution would have produced. */
  private def relaxNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relaxNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = relaxNullable(m.keyType),
        valueType = relaxNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Multi-segment parquet DataFrame WITHOUT a datasource schema
    * resolution: footer-metadata schema + an InMemoryFileIndex through
    * the same bridge the pruning index uses. Falls back to
    * `spark.read.parquet` when the footer carries no Spark schema.
    * Segments must be schema-uniform (callers establish that — the
    * fast-path precondition in [[readOver]], or single-segment use).
    * The footer read is uncached — committed segments go through
    * [[committedScan]]. */
  private[ops] def segmentScanNoResolve(spark: SparkSession,
                                        paths: Seq[String]): DataFrame =
    scanWithSchema(spark, paths, segmentSchemaFromFooter(spark, paths.head))

  /** [[segmentScanNoResolve]] over committed segments `dirs` of
    * `tablePath`, schema from the first segment's cached descriptor. */
  private[ops] def committedScan(spark: SparkSession, tablePath: String,
                                 dirs: Seq[String]): DataFrame =
    scanWithSchema(spark, dirs.map(d => s"$tablePath/$d"),
      committedSchema(spark, tablePath, dirs.head))

  /** A committed segment's footer schema; None (datasource resolution
    * decides) when the footer carries none or cannot be read. */
  private def committedSchema(spark: SparkSession, tablePath: String,
                              dir: String): Option[org.apache.spark.sql.types.StructType] =
    try segmentMetas(spark, tablePath, Seq(dir)).head.schema(fsOf(spark, tablePath))
    catch { case scala.util.control.NonFatal(_) => None }

  private def scanWithSchema(spark: SparkSession, paths: Seq[String],
                             schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    schema match {
      case Some(s) =>
        val idx = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          paths.map(new org.apache.hadoop.fs.Path(_)), Map.empty, None)
        org.apache.spark.sql.graftbridge.GraftSqlBridge
          .parquetDataFrame(spark, idx, s)
      case None => spark.read.parquet(paths: _*)
    }

  /** Column-name list of a STAGED segment from ONE parquet footer
    * (uncached; committed segments read [[SegmentFooter.fieldNames]]
    * through [[segmentMetas]]). Milliseconds vs the ~0.1 s a full
    * datasource resolution costs. */
  private[graft] def segmentFieldNames(spark: SparkSession, segPath: String): Seq[String] =
    readFooter(fsOf(spark, segPath), new org.apache.hadoop.fs.Path(segPath))
      .toSeq.flatMap(_.fieldNames)

  /** TYPED schema signature — what the schema-uniformity fast paths
    * compare (round 17, VERDICT r16 hardening): names alone would pin
    * the FIRST segment's types onto a list whose later segments evolved
    * a column's type (float-array day on a double-array base), where
    * datasource inference would have merged or refused. Names, types
    * and nullability count; column METADATA does not, except Spark's
    * CHAR/VARCHAR marker, which changes how a string column reads. The
    * metadata rule matters for streamed MERGE tables: `withWatermark`
    * stamps `spark.watermarkDelayMs` on the event-time column of every
    * foreachBatch frame, so each streamed segment's footer differs from
    * the base in metadata alone — and comparing it sent every read of
    * such a table down the slow per-segment path. */
  private def schemaSignature(
      st: org.apache.spark.sql.types.StructType): String =
    stripMetadata(st).json

  /** Spark's CHAR/VARCHAR column marker (`CharVarcharUtils`'s
    * package-private `CHAR_VARCHAR_TYPE_STRING_METADATA_KEY`). */
  private val CharVarcharKey = "__CHAR_VARCHAR_TYPE_STRING"

  private def stripMetadata(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val kept =
          if (!f.metadata.contains(CharVarcharKey)) Metadata.empty
          else new MetadataBuilder().putString(CharVarcharKey,
            f.metadata.getString(CharVarcharKey)).build()
        f.copy(dataType = stripMetadata(f.dataType), metadata = kept)
      })
      case a: ArrayType => a.copy(elementType = stripMetadata(a.elementType))
      case m: MapType => m.copy(keyType = stripMetadata(m.keyType),
        valueType = stripMetadata(m.valueType))
      case other => other
    }
  }

  // -----------------------------------------------------------------
  // Segment descriptors
  // -----------------------------------------------------------------

  /** What ONE parquet footer of a segment says: the Spark schema
    * (nullability relaxed, [[relaxNullable]]) when Spark stamped one,
    * the top-level parquet field names, and the typed signature the
    * uniformity fast paths compare ([[schemaSignature]]; the raw parquet
    * message type when no Spark schema is stamped). */
  private[graft] final case class SegmentFooter(
      schema: Option[org.apache.spark.sql.types.StructType],
      fieldNames: Seq[String],
      signature: String)

  /** The first parquet file's footer of the directory at `segPath`;
    * None when the directory holds no parquet file. One listing plus
    * one footer open; IO failures propagate. */
  private def readFooter(fs: org.apache.hadoop.fs.FileSystem,
                         segPath: org.apache.hadoop.fs.Path): Option[SegmentFooter] = {
    import scala.jdk.CollectionConverters._
    fs.listStatus(segPath)
      .find(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, fs.getConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val meta = r.getFooter.getFileMetaData
          val schema = Option(meta.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
            .flatMap(json => scala.util.Try(relaxNullable(
              org.apache.spark.sql.types.DataType.fromJson(json))
              .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
          SegmentFooter(schema,
            meta.getSchema.getFields.asScala.map(_.getName).toSeq,
            schema.map(schemaSignature).getOrElse(meta.getSchema.toString))
        } finally r.close()
      }
  }

  /** A value computed at most once (racing first calls may both
    * compute; they compute the same thing). A load that throws stores
    * nothing, so a failed read is retried, never remembered. */
  private final class Memo[A] {
    @volatile private var value: Option[A] = None
    def apply(load: => A): A = value.getOrElse {
      val a = load
      value = Some(a)
      a
    }
  }

  /** The metadata of ONE committed segment: its footer, merge marker,
    * txn marks, zone map and bloom map. Each is read from disk on first
    * use and then held; `sidecars` names the sidecar prefixes the table
    * root listing showed for this segment, so an absent sidecar costs
    * no filesystem call at all. Obtain descriptors through
    * [[segmentMetas]] only. */
  private[graft] final class SegmentMeta private[AtomicPublish] (
      val dir: String,
      root: org.apache.hadoop.fs.Path,
      sidecars: Set[String]) {
    private val footer0 = new Memo[Option[SegmentFooter]]
    private val marker0 = new Memo[Option[(String, Seq[String])]]
    private val txn0 = new Memo[Map[String, Long]]
    private val zones0 = new Memo[Map[String, ZoneMaps.ColZone]]
    private val blooms0 = new Memo[Map[String, BloomMaps.ColBloom]]

    private def sidecar(prefix: String) =
      new org.apache.hadoop.fs.Path(root, prefix + dir)

    /** A small text sidecar's content, None when the listing showed
      * none. A file GC reaped after the listing throws through the memo
      * (so nothing is kept) and reads as absent in [[orGone]]. */
    private def text(fs: org.apache.hadoop.fs.FileSystem,
                     prefix: String): Option[String] =
      if (!sidecars(prefix)) None
      else {
        val in = fs.open(sidecar(prefix))
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      }

    private def orGone[A](absent: A)(read: => A): A =
      try read catch { case _: java.io.FileNotFoundException => absent }

    def footer(fs: org.apache.hadoop.fs.FileSystem): Option[SegmentFooter] =
      footer0(readFooter(fs, new org.apache.hadoop.fs.Path(root, dir)))

    def schema(fs: org.apache.hadoop.fs.FileSystem)
        : Option[org.apache.spark.sql.types.StructType] =
      footer(fs).flatMap(_.schema)

    /** The merge-on-read marker: (`upsert` | `delete`, merge keys). */
    def marker(fs: org.apache.hadoop.fs.FileSystem): Option[(String, Seq[String])] =
      orGone(Option.empty[(String, Seq[String])])(marker0(
        text(fs, SegMetaPrefix).flatMap { t =>
          t.split("\t", 2) match {
            case Array(tag, keys) if tag == "upsert" || tag == "delete" =>
              Some((tag, keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
            case _ => None
          }
        }))

    /** Exactly-once marks recorded on this segment: appId → version. */
    def txnMarks(fs: org.apache.hadoop.fs.FileSystem): Map[String, Long] =
      orGone(Map.empty[String, Long])(txn0(
        text(fs, TxnPrefix).toSeq.flatMap(_.linesIterator.filter(_.nonEmpty))
          .map { line =>
            line.split("\t", 2) match {
              case Array(a, v) => a -> v.trim.toLong
              case _ => throw new IllegalStateException(
                s"torn txn sidecar at ${sidecar(TxnPrefix)}: `$line`")
            }
          }.groupMapReduce(_._1)(_._2)(math.max)))

    def zones(fs: org.apache.hadoop.fs.FileSystem): Map[String, ZoneMaps.ColZone] =
      zones0(if (!sidecars(ZoneMaps.ZonePrefix)) Map.empty
        else ZoneMaps.read(fs, root, dir))

    def blooms(fs: org.apache.hadoop.fs.FileSystem): Map[String, BloomMaps.ColBloom] =
      blooms0(if (!sidecars(BloomMaps.BloomPrefix)) Map.empty
        else BloomMaps.read(fs, root, dir))
  }

  private val SidecarPrefixes = Seq(SegMetaPrefix, TxnPrefix,
    ZoneMaps.ZonePrefix, BloomMaps.BloomPrefix)

  /** The process-wide segment-descriptor cache: qualified segment path
    * → [[SegmentMeta]], least recently used first out.
    *
    * WHAT IS CACHED: the per-segment metadata of segments a committed
    * manifest or version-log entry names — footer schema and field
    * names, merge marker, txn marks, zone map, bloom map.
    *
    * WHY IT NEVER GOES STALE: every one of those is written under the
    * commit lock BEFORE the manifest swap that makes the segment live,
    * and nothing rewrites a live segment's directory or sidecars. GC
    * deletes a superseded directory together with its sidecars, and
    * `data-<millis>-<counter>` names are unique within a table, so a
    * path never comes back with different contents. A descriptor is
    * stored only when the table root listing that built it showed the
    * segment directory: GC deletes the directory before its sidecars,
    * so a listed directory had its full sidecar set in that listing.
    *
    * WHAT NEVER IS: staged directories (`.seg-*`, `.pub-*`,
    * `.compact-*`) and the replay landing dir, which read their footers
    * through the uncached [[segmentSchemaFromFooter]] /
    * [[segmentFieldNames]]; and every table-level file — `MANIFEST`, the
    * version log, `_graft_cluster`, `_graft_mv`, the expectations
    * sidecar — which a commit rewrites. [[segmentsAt]] keeps its
    * per-directory existence check, so time travel to a GC'd version
    * still fails loudly with a warm cache.
    *
    * BOUND: at most [[MaxEntries]] descriptors and [[MaxBytes]] of
    * sidecar bytes (bloom filters dominate; each entry is weighed by
    * its sidecars' on-disk length plus a footer allowance). */
  private object SegmentMetaCache {
    val MaxEntries = 4096
    val MaxBytes: Long = 256L << 20
    val FooterWeight = 4096L
    private val map = new java.util.LinkedHashMap[String, (SegmentMeta, Long)](
      256, 0.75f, true)
    private var bytes = 0L

    def get(key: String): Option[SegmentMeta] = synchronized {
      Option(map.get(key)).map(_._1)
    }

    def put(key: String, meta: SegmentMeta, weight: Long): Unit = synchronized {
      Option(map.put(key, (meta, weight))).foreach(old => bytes -= old._2)
      bytes += weight
      val eldest = map.entrySet.iterator
      while ((map.size > MaxEntries || bytes > MaxBytes) && eldest.hasNext) {
        bytes -= eldest.next().getValue._2
        eldest.remove()
      }
    }
  }

  /** Descriptors of the committed segments `segs` of `tablePath`, in
    * order, from [[SegmentMetaCache]]. A warm list costs no filesystem
    * call; any miss costs ONE listing of the table root, which tells
    * every missed descriptor which sidecars exist. Callers pass only
    * segment names a committed manifest or version-log entry gave them
    * (see the cache's invariant). */
  private[graft] def segmentMetas(spark: SparkSession, tablePath: String,
                                  segs: Seq[String]): Seq[SegmentMeta] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = fsOf(spark, tablePath)
    val qroot = fs.makeQualified(root)
    val keys = segs.map(d => s"$qroot/$d")
    val cached = keys.map(SegmentMetaCache.get)
    if (cached.forall(_.isDefined)) return cached.map(_.get)
    val listing =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    val dirs = listing.filter(_.isDirectory).map(_.getPath.getName).toSet
    val fileLen = listing.filterNot(_.isDirectory)
      .map(f => f.getPath.getName -> f.getLen).toMap
    segs.indices.map { i =>
      cached(i).getOrElse {
        val d = segs(i)
        val present = SidecarPrefixes.filter(p => fileLen.contains(p + d))
        val meta = new SegmentMeta(d, qroot, present.toSet)
        if (dirs(d)) SegmentMetaCache.put(keys(i), meta,
          SegmentMetaCache.FooterWeight + present.map(p => fileLen(p + d)).sum)
        meta
      }
    }
  }

  /** Zone maps of the committed segments `segs` that carry one, by
    * segment dir (through [[segmentMetas]]). */
  private[graft] def zonesFor(spark: SparkSession, tablePath: String,
                              segs: Seq[String]): Map[String, Map[String, ZoneMaps.ColZone]] = {
    val fs = fsOf(spark, tablePath)
    segmentMetas(spark, tablePath, segs).map(m => m.dir -> m.zones(fs))
      .filter(_._2.nonEmpty).toMap
  }

  /** Bloom maps of the committed segments `segs` that carry one, by
    * segment dir (through [[segmentMetas]]). */
  private[graft] def bloomsFor(spark: SparkSession, tablePath: String,
                               segs: Seq[String]): Map[String, Map[String, BloomMaps.ColBloom]] = {
    val fs = fsOf(spark, tablePath)
    segmentMetas(spark, tablePath, segs).map(m => m.dir -> m.blooms(fs))
      .filter(_._2.nonEmpty).toMap
  }

  /** Do the committed segments `segs` of `tablePath` agree on the
    * typed footer signature ([[schemaSignature]])? When they do not,
    * readers fall back to per-segment resolution or inference — a slow
    * path that is logged once per table, naming the first field that
    * differs. */
  private[graft] def segmentsUniform(spark: SparkSession, tablePath: String,
                                     segs: Seq[String]): Boolean = {
    val fs = fsOf(spark, tablePath)
    val footers = segmentMetas(spark, tablePath, segs).map(_.footer(fs))
    val sigs = footers.map(_.map(_.signature).getOrElse(""))
    val uniform = sigs.forall(_ == sigs.head)
    if (!uniform && fallbackLogged.add(fs.makeQualified(
        new org.apache.hadoop.fs.Path(tablePath)).toString)) {
      val other = footers(sigs.indexWhere(_ != sigs.head))
      val field = (footers.head.flatMap(_.schema), other.flatMap(_.schema)) match {
        case (Some(a), Some(b)) =>
          val fa = stripMetadata(a).asInstanceOf[org.apache.spark.sql.types.StructType]
          val fb = stripMetadata(b).asInstanceOf[org.apache.spark.sql.types.StructType]
          (fa.fieldNames ++ fb.fieldNames.filterNot(fa.fieldNames.contains))
            .find(n => fa.find(_.name == n) != fb.find(_.name == n))
            .getOrElse("(field order)")
        case _ => "(parquet schema)"
      }
      log.warn(s"segments of $tablePath differ in schema at field `$field`: " +
        "reading them per segment, without zone/bloom pruning; fold the " +
        "table (MergeInto.compactMerged) to restore the single-scan path")
    }
    uniform
  }

  private val fallbackLogged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.AtomicPublish")

  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // -----------------------------------------------------------------
  // Time travel
  // -----------------------------------------------------------------

  /** The table's current commit version per the version log (1-based;
    * None when never published or the log is missing). */
  def currentVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersionIn(fs, root).map(_._1)
  }

  /** The segment list committed as `version`, if the version log still
    * holds it AND the retention window still holds its data. Loud on
    * both failure modes — a silent fallback to another version is the
    * one thing a time-travel read must never do. */
  def segmentsAt(spark: SparkSession, tablePath: String,
                 version: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vp = new org.apache.hadoop.fs.Path(root,
      new org.apache.hadoop.fs.Path(VersionsDir, f"$version%012d").toString)
    if (!fs.exists(vp)) {
      val latest = latestVersionIn(fs, root).map(_._1)
      throw new IllegalStateException(
        s"time travel: version $version of $tablePath is not in the " +
          s"version log (latest: ${latest.getOrElse("none")}) — either it " +
          s"never committed or it aged past $RetentionMsKey")
    }
    val in = fs.open(vp)
    val segs =
      try {
        val bytes = new Array[Byte](fs.getFileStatus(vp).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8").linesIterator.map(_.trim)
          .filter(_.nonEmpty).toSeq
      } finally in.close()
    val missing = segs.filterNot(d =>
      fs.exists(new org.apache.hadoop.fs.Path(root, d)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"time travel: version $version of $tablePath references " +
        s"${missing.mkString(", ")}, already garbage-collected — raise " +
        s"$RetentionMsKey to lengthen the travel window")
    segs
  }

  /** Read the table AS OF a committed version — valid within the
    * retention window ([[RetentionMsKey]]; superseded data directories
    * are kept exactly that long, so the bytes are already there).
    * Reconciles upsert segments exactly like [[read]]: a version
    * captured mid-merge-on-read reproduces that moment's merged view.
    * SQL surface: `OPTIONS (versionAsOf 'N')` on the `graft` source. */
  def readAt(spark: SparkSession, tablePath: String, version: Long): DataFrame =
    readOver(spark, tablePath, segmentsAt(spark, tablePath, version))

  /** The version COMMITTED AS OF `epochMs` — the latest version-log
    * entry whose commit time is ≤ the asked instant (Delta
    * `timestampAsOf` resolution). The clock is the log file's
    * modification time, stamped by the filesystem at the swap — the
    * same clock the retention GC reaps by, so any timestamp this
    * resolves is also still readable. Loud at BOTH ends — when the
    * instant predates every retained commit (the bytes that would
    * answer it are GC'd or were never committed) AND when it postdates
    * the newest commit (Delta's read semantics: a typo'd future
    * instant is an error, never silently current state). Neither end
    * clamps, which would quietly serve the WRONG snapshot. The
    * forward-lenient resolution lives only in [[versionSince]], where
    * past-the-end is genuinely a stream position. */
  def versionAt(spark: SparkSession, tablePath: String,
                epochMs: Long): Long = {
    val entries = versionLogTimes(spark, tablePath, "timestampAsOf")
    val atOrBefore = entries.filter(_._2 <= epochMs)
    if (atOrBefore.isEmpty) throw new IllegalArgumentException(
      s"timestampAsOf: ${java.time.Instant.ofEpochMilli(epochMs)} predates " +
        s"the oldest retained commit of $tablePath " +
        s"(${java.time.Instant.ofEpochMilli(entries.head._2)}, version " +
        s"${entries.head._1}) — older state aged past $RetentionMsKey")
    if (epochMs > entries.last._2) throw new IllegalArgumentException(
      s"timestampAsOf: ${java.time.Instant.ofEpochMilli(epochMs)} is after " +
        s"the newest commit of $tablePath " +
        s"(${java.time.Instant.ofEpochMilli(entries.last._2)}, version " +
        s"${entries.last._1}) — use versionAsOf ${entries.last._1} or a " +
        s"plain read for current state")
    atOrBefore.map(_._1).max
  }

  /** The version log as a (version, commitMs) series, MONOTONIZED:
    * commit times are file mtimes, and two commits inside one
    * filesystem tick (or an NTP step between commits) can record
    * non-increasing mtimes in version order, which would make
    * timestamp resolution pick the wrong version. Adjusted exactly the
    * way Delta's history manager adjusts commit timestamps before
    * binary search: `ts_i = max(ts_i, ts_{i-1} + 1)`, so later
    * versions always read as strictly later instants. */
  private def versionLogTimes(spark: SparkSession, tablePath: String,
                              what: String): Seq[(Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vd = new org.apache.hadoop.fs.Path(root, VersionsDir)
    if (!fs.exists(vd)) throw new IllegalStateException(
      s"$what: no version log at $tablePath")
    val raw = fs.listStatus(vd).filter(!_.isDirectory)
      .flatMap(f => f.getPath.getName.toLongOption
        .map(v => v -> f.getModificationTime))
      .sortBy(_._1).toSeq
    if (raw.isEmpty) throw new IllegalStateException(
      s"$what: empty version log at $tablePath")
    var prev = Long.MinValue
    raw.map { case (v, ts) =>
      val adj = math.max(ts, if (prev == Long.MinValue) ts else prev + 1)
      prev = adj
      (v, adj)
    }
  }

  /** [[readAt]] by wall-clock instant — see [[versionAt]]. SQL
    * surface: `OPTIONS (timestampAsOf '<epoch-millis or ISO-8601>')`
    * on the `graft` source. */
  def readAsOfTimestamp(spark: SparkSession, tablePath: String,
                        epochMs: Long): DataFrame =
    readAt(spark, tablePath, versionAt(spark, tablePath, epochMs))

  /** The smallest logged version COMMITTED AT OR AFTER `epochMs` —
    * [[versionAt]]'s forward-looking twin, the resolution a STREAM's
    * `startingTimestamp` needs ("serve commits from this instant on",
    * the Delta startingTimestamp shape). An instant after the newest
    * commit returns `latest + 1`: the stream arms at the current end
    * and serves only future commits — for a tail that is a position,
    * not an error. */
  def versionSince(spark: SparkSession, tablePath: String,
                   epochMs: Long): Long = {
    val entries = versionLogTimes(spark, tablePath, "startingTimestamp")
    entries.find(_._2 >= epochMs).map(_._1)
      .getOrElse(entries.last._1 + 1)
  }

  /** DESCRIBE HISTORY: one row per retained commit, operation
    * CLASSIFIED from the version log itself — segment-list diffs plus
    * merge sidecars and fold markers — so the protocol needs no
    * separate operation journal (and can never disagree with one).
    * Metadata-only: reads version-log entries and sidecar names, never
    * data files; cost ∝ retained commits, independent of table size.
    *
    * Columns: `version`, `operation` (PUBLISH / APPEND / MERGE /
    * DELETE / SYNC / OPTIMIZE / RESTORE / REPLACE — NULL when the
    * predecessor entry aged out and the diff is unknowable),
    * `num_segments`, `num_added`, `is_fold`, `timestamp` (the
    * monotonized commit clock of [[versionAt]]). Classification:
    * a commit EXTENDING its predecessor is APPEND / MERGE / DELETE by
    * its added segments' sidecars (upsert + delete parts together =
    * SYNC, the atomic full-sync MERGE); a fold-marked break is
    * OPTIMIZE; a break whose list equals an EARLIER version's is
    * RESTORE; any other break is REPLACE (republish or
    * [[MergeInto.replaceWhere]]). */
  def tableHistory(spark: SparkSession, tablePath: String): DataFrame = {
    val times = versionLogTimes(spark, tablePath, "tableHistory").toMap
    val versions = times.keys.toSeq.sorted
    val lists: Map[Long, Seq[String]] =
      versions.map(v => v -> segmentListAt(spark, tablePath, v)).toMap
    val allSegs = lists.values.flatten.toSet.toSeq
    val side = mergeSidecarsFor(spark, tablePath, allSegs)
    val rows = versions.map { v =>
      val cur = lists(v)
      val prevOpt = lists.get(v - 1)
      val fold = isFoldVersion(spark, tablePath, v)
      val (op: Option[String], added: Int) = prevOpt match {
        case None =>
          (if (v == 1L) Some("PUBLISH") else None, cur.length)
        case Some(prev) if cur.take(prev.length) == prev
            && cur.length > prev.length =>
          val newSegs = cur.drop(prev.length)
          val kinds = newSegs.map(d => side.get(d).map(_._1)).toSet
          val op =
            if (kinds == Set(None)) "APPEND"
            else if (kinds == Set(Some("upsert"))) "MERGE"
            else if (kinds == Set(Some("delete"))) "DELETE"
            else "SYNC"
          (Some(op), newSegs.length)
        case Some(_) if fold => (Some("OPTIMIZE"), 0)
        case Some(_) =>
          val restoredFrom = versions.filter(_ < v).find(w => lists(w) == cur)
          (Some(if (restoredFrom.isDefined) "RESTORE" else "REPLACE"), 0)
      }
      (v, op.orNull, cur.length, added, fold,
        new java.sql.Timestamp(times(v)))
    }
    import spark.implicits._
    rows.toDF("version", "operation", "num_segments", "num_added",
      "is_fold", "timestamp")
  }

  /** [[segmentsAt]] minus the exists-on-disk check — history
    * classification needs the LIST a version committed, which the log
    * retains even after a superseded directory ages out. */
  private def segmentListAt(spark: SparkSession, tablePath: String,
                            version: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vp = new org.apache.hadoop.fs.Path(root,
      new org.apache.hadoop.fs.Path(VersionsDir, f"$version%012d").toString)
    val in = fs.open(vp)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(vp).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, "UTF-8").linesIterator.map(_.trim)
        .filter(_.nonEmpty).toSeq
    } finally in.close()
  }

  /** Parse a user-supplied instant: epoch millis or ISO-8601
    * (`Instant.parse` form, or a space/`T`-separated local date-time
    * read as UTC). Shared by every `timestampAsOf`/`startingTimestamp`
    * option so the sources can't drift on accepted formats. */
  private[graft] def parseInstantMs(raw: String, what: String): Long = {
    val s = raw.trim
    s.toLongOption.getOrElse {
      try java.time.Instant.parse(s).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"$what must be epoch millis or an ISO-8601 instant " +
                  s"(UTC), got `$raw`")
          }
      }
    }
  }

  /** CHANGE DATA FEED, derived at read time from the version log: the
    * row-level changes committed after `fromVersion` up to and
    * including `toVersion`, stamped `_change_type`
    * (`insert` / `update_postimage` / `delete`) and `_commit_version`.
    * The consumer contract is Delta's `table_changes` shape: feed a
    * downstream table by applying the changes in `_commit_version`
    * order.
    *
    * Derivation rules (documented, not configurable):
    *  - plain append commits emit every row as `insert` (append
    *    semantics accumulate duplicates — an append is never an
    *    update);
    *  - upsert commits emit `update_postimage` when the key was live
    *    at the previous commit, else `insert`; a key's liveness chain
    *    is (snapshot at `fromVersion`) → events in commit order, a
    *    delete killing it and any append/upsert reviving it;
    *  - delete commits emit one `delete` record per key that was live
    *    — KEY COLUMNS ONLY, non-key columns NULL (tombstones don't
    *    store preimages; reconstruct one with a join against
    *    `readAt(version-1)` if needed). Deleting a dead key emits
    *    nothing.
    *  - NULL merge keys are never overridden or deleted
    *    ([[readOver]]'s contract), so null-key upsert rows emit
    *    `insert`.
    *
    * Scale shape: one KEY-PRUNED scan of the run-start snapshot per
    * fold-delimited run (only when that run contains merge commits),
    * the new segments themselves (∝ the changes), and one window
    * shuffle over the event keys — never a full-width scan of the
    * corpus.
    *
    * COMPACTION inside the window is fine: a fold commit
    * ([[compactMerged]], [[AtomicPublish.optimizeTable]], any
    * [[AtomicPublish.casRewrite]] rewrite) is content-preserving —
    * same logical rows, new bytes — and is declared so in the version
    * log ([[isFoldVersion]]). The feed SPLITS the window at each fold:
    * the fold itself emits zero change rows, and each run between
    * folds diffs normally against the run-start snapshot (retention
    * keeps pre-fold segment dirs readable for exactly this). So a
    * lagging MV or CDC consumer survives `upsertInto`'s auto-fold
    * instead of paying a full-corpus refresh. What still refuses
    * LOUDLY: a RESTORE or republish inside the window (those CHANGE
    * content in ways the log cannot express as row deltas) and a
    * window whose pre-fold segments aged past the retention window
    * ([[segmentsAt]] raises). */
  /** The segment directories ADDED across `(fromVersion, toVersion]`,
    * version order, with FOLD commits skipped (a fold is
    * content-preserving: it contributes no changes, only replaces the
    * base the later commits extend). METADATA-ONLY — version-log and
    * manifest reads, no Spark job. Returns None when the window
    * contains a NON-fold break (restore/republish): those windows
    * cannot be expressed as row deltas, and callers fall back to
    * [[changesBetween]], which refuses with the documented message.
    *
    * This is the cheap window decomposition [[MaterializedView]]'s
    * refresh derives its affected groups from: for group derivation the
    * classified change feed is equivalent to (all rows of the new
    * non-delete segments) + (all keys of the new upsert/delete
    * segments probed against the fromVersion snapshot) — the
    * classification only removes keys that provably match nothing —
    * so the refresh skips the feed's snapshot key-scan + window
    * classification entirely. */
  def addedSegmentsBetween(spark: SparkSession, tablePath: String,
                           fromVersion: Long, toVersion: Long)
      : Option[Seq[String]] = {
    require(fromVersion <= toVersion,
      s"addedSegmentsBetween: need fromVersion <= toVersion, got " +
        s"$fromVersion > $toVersion")
    if (fromVersion == toVersion) return Some(Nil)
    val lists: Map[Long, Seq[String]] = (fromVersion to toVersion)
      .map(v => v -> segmentsAt(spark, tablePath, v)).toMap
    val breaks = ((fromVersion + 1) to toVersion).filter { v =>
      lists(v).take(lists(v - 1).length) != lists(v - 1)
    }.toSet
    if (breaks.exists(v => !isFoldVersion(spark, tablePath, v))) None
    else Some(((fromVersion + 1) to toVersion).toSeq
      .filterNot(breaks.contains)
      .flatMap(v => lists(v).drop(lists(v - 1).length)))
  }

  def changesBetween(spark: SparkSession, tablePath: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween: need fromVersion < toVersion, got " +
        s"$fromVersion ≥ $toVersion")
    // resolve every window version's segment list (metadata-only reads;
    // segmentsAt is loud if any version or its data aged out)
    val lists: Map[Long, Seq[String]] = (fromVersion to toVersion)
      .map(v => v -> segmentsAt(spark, tablePath, v)).toMap
    // a BREAK is a commit whose segment list does not extend its
    // predecessor's — a fold (diff through) or a restore/republish
    // (refuse)
    val breaks = ((fromVersion + 1) to toVersion).filter { v =>
      lists(v).take(lists(v - 1).length) != lists(v - 1)
    }
    val nonFold = breaks.filterNot(isFoldVersion(spark, tablePath, _))
    require(nonFold.isEmpty,
      s"changesBetween: version(s) ${nonFold.mkString(", ")} inside " +
        s"$fromVersion → $toVersion of $tablePath rewrote history " +
        "(restore or republish — not a content-preserving fold) — the " +
        "change feed cannot express those as row deltas; diff snapshots " +
        "via readAt instead")
    if (breaks.isEmpty)
      return changesCore(spark, tablePath, fromVersion, toVersion, lists)
    // split at the folds: each fold contributes zero rows and seeds the
    // next run's snapshot (its content equals its predecessor's)
    val starts = fromVersion +: breaks
    val ends = breaks.map(_ - 1) :+ toVersion
    val parts = starts.zip(ends).collect { case (s, e) if s < e =>
      changesCore(spark, tablePath, s, e, lists)
    }
    if (parts.nonEmpty) parts.reduce(_ unionByName _)
    else // every commit in the window was a fold: zero changes, typed
      readOver(spark, tablePath, lists(toVersion)).limit(0)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(toVersion))
  }

  /** One fold-free run of [[changesBetween]] — requires (and asserts)
    * that each version's segment list extends its predecessor's. A
    * commit may add SEVERAL segments ([[AtomicPublish.appendSegments]]
    * — a full-sync MERGE lands upsert + tombstone parts atomically);
    * within a commit the ordinal clock ranks parts by manifest
    * position, matching [[readOver]]'s reconciliation order. */
  private def changesCore(spark: SparkSession, tablePath: String,
                          fromVersion: Long, toVersion: Long,
                          lists: Map[Long, Seq[String]]): DataFrame = {
    val segsFrom = lists(fromVersion)
    val segsTo = lists(toVersion)
    require(segsTo.take(segsFrom.length) == segsFrom,
      s"changesCore: versions $fromVersion → $toVersion of $tablePath " +
        "diverge inside a fold-free run — changesBetween mis-split the " +
        "window (bug)")
    // per-commit added segments, manifest order; every commit in a
    // fold-free run must extend its predecessor by ≥1 segment
    val newWithVer: Seq[(String, Long)] =
      ((fromVersion + 1) to toVersion).flatMap { v =>
        val prev = lists(v - 1); val cur = lists(v)
        require(cur.take(prev.length) == prev && cur.length > prev.length,
          s"changesBetween: version $v of $tablePath does not extend " +
            s"version ${v - 1} inside a fold-free run — an " +
            "out-of-protocol writer touched the manifest")
        cur.drop(prev.length).map(_ -> v)
      }
    val newSegs = newWithVer.map(_._1)
    require(newSegs == segsTo.drop(segsFrom.length),
      s"changesBetween: per-version segment diffs of $tablePath disagree " +
        s"with the $fromVersion → $toVersion endpoints — an " +
        "out-of-protocol writer touched the manifest")
    // ordinal clock: position in the toVersion manifest (strictly
    // increasing across commits; distinguishes parts WITHIN a commit)
    val segOrdTo = segsTo.zipWithIndex.toMap
    val baseOrd = segsFrom.length - 1
    val side = mergeSidecarsFor(spark, tablePath, segsTo)
    val canonSchema = readOver(spark, tablePath, segsTo).schema
    val ctCol = "_change_type"
    val cvCol = "_commit_version"
    require(!canonSchema.fieldNames.exists(c =>
        c.equalsIgnoreCase(ctCol) || c.equalsIgnoreCase(cvCol)),
      s"changesBetween: table at $tablePath uses reserved column $ctCol/$cvCol")
    // project to the canonical schema with null backfill (evolution)
    def align(df: DataFrame): DataFrame =
      df.select(canonSchema.fields.map { f =>
        if (df.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    if (!newSegs.exists(side.contains)) {
      // pure appends — every row an insert; no snapshot scan needed
      return newWithVer.map { case (d, v) =>
        align(committedScan(spark, tablePath, Seq(d)))
          .withColumn(ctCol, lit("insert"))
          .withColumn(cvCol, lit(v))
      }.reduce(_ unionByName _)
    }
    val keys = side.values.head._2
    val kCols = keys.map(col)
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    val ordCol = "__graft_evt_ord"
    val kindCol = "__graft_evt_kind" // 0 append/snapshot, 1 upsert, 2 delete
    val prevCol = "__graft_evt_prev"
    // liveness chain: the fromVersion snapshot's keys (key-pruned scan)
    // then one distinct (key, version) event per new segment
    val priorKeys = readOver(spark, tablePath, segsFrom)
      .select(kCols: _*).filter(!anyKeyNull).distinct()
      .withColumn(ordCol, lit(baseOrd))
      .withColumn(kindCol, lit(0))
    val events = newWithVer.map { case (d, _) =>
      val kind = side.get(d).map(_._1) match {
        case Some("delete") => 2
        case Some(_)        => 1
        case None           => 0
      }
      committedScan(spark, tablePath, Seq(d))
        .select(kCols: _*).filter(!anyKeyNull).distinct()
        .withColumn(ordCol, lit(segOrdTo(d)))
        .withColumn(kindCol, lit(kind))
    }.foldLeft(priorKeys)(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(kCols: _*).orderBy(col(ordCol))
    val classified = events
      .withColumn(prevCol, lag(col(kindCol), 1).over(w))
      .filter(col(ordCol) > baseOrd)
      .withColumn(ctCol,
        when(col(kindCol) === 2,
          when(col(prevCol).isNotNull && col(prevCol) =!= 2, lit("delete"))
            .otherwise(lit(null)))
          .when(col(kindCol) === 1,
            when(col(prevCol).isNotNull && col(prevCol) =!= 2,
              lit("update_postimage")).otherwise(lit("insert")))
          .otherwise(lit("insert")))
      .filter(col(ctCol).isNotNull)
      .select(kCols :+ col(ordCol) :+ col(kindCol) :+ col(ctCol): _*)
    val perSeg: Seq[DataFrame] = newWithVer.map { case (d, v) =>
      val raw = committedScan(spark, tablePath, Seq(d))
      side.get(d).map(_._1) match {
        case None => // plain append: all rows insert
          align(raw).withColumn(ctCol, lit("insert"))
            .withColumn(cvCol, lit(v))
        case Some("upsert") =>
          val cls = classified
            .filter(col(ordCol) === segOrdTo(d) && col(kindCol) === 1)
            .select(kCols :+ col(ctCol): _*)
          val keyed = align(raw).filter(!anyKeyNull)
            .join(cls, keys, "inner")
          val nullKeyed = align(raw).filter(anyKeyNull)
            .withColumn(ctCol, lit("insert"))
          keyed.unionByName(nullKeyed).withColumn(cvCol, lit(v))
        case Some(_) => // delete: key-only records for live keys
          align(classified.filter(col(ordCol) === segOrdTo(d) &&
              col(kindCol) === 2)
              .select(kCols: _*))
            .withColumn(ctCol, lit("delete"))
            .withColumn(cvCol, lit(v))
      }
    }
    perSeg.reduce(_ unionByName _)
      .select(canonSchema.fieldNames.map(col).toSeq :+ col(ctCol) :+ col(cvCol): _*)
  }

  /** RESTORE the table to a previously committed version — the
    * post-incident rollback ([[readAt]]'s write-side twin, the Delta
    * `RESTORE TABLE … TO VERSION AS OF` shape). No data moves: the
    * restored version's segment directories are still on disk (that is
    * exactly what the retention window retains), so the restore is a
    * pure METADATA commit — a new manifest naming the OLD directories,
    * logged as a NEW version. History is never rewritten: the undone
    * commits stay in the version log and remain time-travel-readable
    * for the rest of their window, and the restore itself is visible
    * (and re-revertable) as a commit of its own.
    *
    * Revival contract: a restored directory may already carry a
    * supersession tombstone (it was GC-clock-ticking toward deletion);
    * the commit REMOVES those tombstones inside the lock window, so a
    * directory revived into the live manifest gets a FULL retention
    * window again if some later commit re-supersedes it — otherwise a
    * reader of the restored table could lose data in less than the
    * window it was promised. Restoring a version whose directories
    * already aged out fails LOUDLY before anything commits
    * ([[segmentsAt]]).
    *
    * Change-feed interplay: a restore commit's segment list is not an
    * extension of its predecessor's, so [[changesBetween]] across it
    * refuses (same as compaction) — diff within the pre- or
    * post-restore run instead.
    *
    * Returns the NEW version number the restore committed as. */
  def restoreTable(spark: SparkSession, tablePath: String,
                   version: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    // loud validation outside the lock (version logged? data retained?)
    segmentsAt(spark, tablePath, version)
    sweepStaleDebris(fs, root)
    withCommitLock(spark, fs, root) { token =>
      commitWindowFault()
      // re-resolve INSIDE the window: a racing vacuum could have
      // reaped between the check above and lock acquisition
      val segs = segmentsAt(spark, tablePath, version)
      // revive: clear the supersession clocks of the restored dirs
      segs.foreach { d =>
        try { fs.delete(new org.apache.hadoop.fs.Path(root, TombPrefix + d),
          false); () }
        catch { case _: java.io.IOException => () }
      }
      swapManifest(fs, conf, root, segs.mkString("\n"), token)
      // dirs of the just-superseded manifest start their retention
      // clocks now; the restored dirs are live and exempt
      gcSuperseded(spark, fs, root, live = segs.toSet)
    }
    currentVersion(spark, tablePath).getOrElse(sys.error(
      s"restore committed at $tablePath but the version log is unreadable"))
  }

  /** Explicit retention reaper — the VACUUM of this protocol. GC
    * normally piggybacks on commits ([[gcSuperseded]] runs inside
    * every publish/compact window), so a table that KEEPS committing
    * reaps itself; a table whose writes stop, or whose last commits
    * all landed inside the retention window, keeps its superseded
    * `data-*` directories until someone commits again. This runs the
    * same tombstone-and-reap pass under the commit lock without
    * publishing anything. Honors [[RetentionMsKey]] — a vacuum cannot
    * delete data a lagging reader is still entitled to. */
  def vacuum(spark: SparkSession, tablePath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(conf)
    val live = currentSegments(spark, tablePath)
    require(live.nonEmpty,
      s"vacuum: no published version (MANIFEST) at $tablePath")
    withCommitLock(spark, fs, root) { _ =>
      gcSuperseded(spark, fs, root,
        live = currentSegments(spark, tablePath).toSet)
    }
  }

  /** SQL front door for the table protocol: resolve the manifest ONCE
    * and register the version's reader as a temp view, so `spark.sql`
    * text can query merge-sink / published-table state the ops API
    * built (pre-round-14 a SQL user could not touch it at all). The
    * view binds the immutable versioned directories — a later commit
    * does not contaminate queries against this registration (the same
    * snapshot semantic [[read]] gives plans); re-register to advance.
    * Unlike the path-based `graft` DSv2 source, this view RECONCILES
    * pending upsert segments (it binds [[read]]'s plan, join and all).
    * SqlFrontDoorSpec pins `sameResult` plan equality between SQL text
    * over the view and the ops-API read. */
  def registerView(spark: SparkSession, tablePath: String,
                   viewName: String): DataFrame = {
    val df = read(spark, tablePath)
    df.createOrReplaceTempView(viewName)
    df
  }
}

object MergeInto {

  /** Conf: MERGE write strategy. `mor` (merge-on-read, default) lands
    * each source batch as an upsert SEGMENT — per-commit cost ∝ the
    * batch — and defers reconciliation to read time / the next fold;
    * `cow` (copy-on-write) rewrites the whole reconciled table per
    * merge under the optimistic CAS — per-commit cost ∝ the table, but
    * reads stay join-free. The lakehouse trade, selectable per
    * session. */
  val ModeKey = "spark.graft.merge.mode"
  val ModeDefault = "mor"

  /** Conf: fold (compact) a merge-on-read table once its segment count
    * reaches this, amortizing reconciliation cost across merges the
    * way an LSM folds levels. 0 disables auto-folding (explicit
    * [[compactMerged]] only). */
  val CompactAfterKey = "spark.graft.merge.compactAfterSegments"
  val CompactAfterDefault = 16

  /** Conf: accept source batches that ADD columns (readers
    * null-backfill rows that predate them). Off by default — silent
    * schema drift is a pipeline bug more often than a feature. Dropped
    * columns are always refused loudly. */
  val AllowEvolutionKey = "spark.graft.merge.allowSchemaEvolution"

  /** SCD-1 MERGE INTO: rows of `source` win on key match (UPDATE),
    * land on no match (INSERT); unmatched `target` rows pass through.
    * Schemas must be union-compatible by name.
    *
    * Scale shape: ONE left-anti shuffle join of target against the
    * distinct source keys plus a union — no full-outer join (whose
    * coalesce-per-column plan reshuffles BOTH sides and breaks column
    * pruning). With the target bucketed on the key (engine.Scratch) the
    * anti join is shuffle-free on the big side, which is the layout a
    * real lakehouse MERGE exploits.
    */
  def upsert(target: DataFrame, source: DataFrame,
             keys: Seq[String]): DataFrame =
    target
      .join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source)

  /** MERGE-and-commit against a published table.
    *
    * Default (merge-on-read, [[ModeKey]]=`mor`): the batch lands as an
    * UPSERT SEGMENT ([[AtomicPublish.appendUpsertSegment]]) — write ∝
    * THE BATCH, the commit lock held only for the manifest CAS — and
    * readers reconcile (latest upsert segment wins per key) until
    * [[compactMerged]] folds the segments back to one base, which
    * happens automatically at [[CompactAfterKey]] segments. This is
    * the shape that keeps a per-micro-batch MERGE sink's recurring
    * cost FLAT as the table grows to 100 TB; the pre-round-15
    * copy-on-write default re-wrote the ENTIRE table inside the commit
    * lock on every merge — recurring cost ∝ corpus, and a long merge
    * starved concurrent appenders into lock timeouts.
    *
    * Copy-on-write ([[ModeKey]]=`cow`) still exists for read-hot
    * tables: the reconciled table + batch is rewritten under the
    * optimistic CAS ([[AtomicPublish.casRewrite]]) — the rewrite holds
    * NO lock, racing appends abort the swap and the merge retries
    * against the new list, so the round-14 lost-update protection
    * survives without the round-14 lock tenure.
    *
    * Either way a reader concurrent with the merge sees the pre-merge
    * or post-merge table in full, never a mix. */
  def upsertInto(spark: SparkSession, tablePath: String, source: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val mode = spark.conf.getOption(ModeKey).getOrElse(ModeDefault)
    mode match {
      case "mor" =>
        // batch-sized staged segment: a driver-local MERGE source (an
        // MV refresh's ≤inListMax recomputed groups) otherwise
        // parallelizes to defaultParallelism write tasks — 32 files +
        // 32 writer inits for a handful of rows, paid again by every
        // downstream reconcile read of the segment (guide §6). Size-
        // conditional: a large batch keeps its write parallelism.
        AtomicPublish.appendUpsertSegment(spark, tablePath, keys) { p =>
          graft.engine.Sizing.coalesceForStaging(source).write.parquet(p)
        }
        maybeAutoFold(spark, tablePath)
      case "cow" =>
        val outcome = AtomicPublish.casRewrite(spark, tablePath,
          maxAttempts = 5, minSegments = 1, fold = false) { (paths, staging) =>
          val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
          val target = AtomicPublish.readOver(spark, tablePath, dirs)
          val aligned = alignForEvolution(spark, tablePath, target, source)
          upsert(aligned._1, aligned._2, keys).write.parquet(staging)
        }
        outcome match {
          case AtomicPublish.CompactOutcome.LostRace =>
            throw new IllegalStateException(
              s"upsertInto(cow) at $tablePath: 5 attempts each found the " +
                "segment list changed under the rewrite — the table is being " +
                "appended faster than a copy-on-write merge can land; use " +
                s"$ModeKey=mor for this workload")
          case AtomicPublish.CompactOutcome.AlreadyCompact =>
            throw new IllegalStateException(
              s"upsertInto: no published version (MANIFEST) at $tablePath")
          case _ => ()
        }
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be `mor` or `cow`, got `$other`")
    }
    AtomicPublish.read(spark, tablePath)
  }

  /** EXACTLY-ONCE [[upsertInto]] for restartable MERGE sinks: the
    * batch lands as an upsert segment AT MOST ONCE per
    * `(appId, version)` ([[AtomicPublish.appendUpsertSegmentTxn]]) —
    * the foreachBatch contract where Structured Streaming replays the
    * last micro-batch after a crash and the sink must swallow the
    * replay. appId = a stable sink identity (the query's checkpoint
    * location is the natural choice), version = `batchId`. A replay
    * returns false without staging any data; auto-fold fires exactly
    * like [[upsertInto]], and the fold CARRIES the txn marks forward,
    * so a replay arriving after a compaction is still recognized.
    * Merge-on-read only: `cow` has no per-batch segment to carry the
    * mark — loud, not silently non-idempotent. */
  def upsertIntoTxn(spark: SparkSession, tablePath: String,
                    source: DataFrame, keys: Seq[String],
                    appId: String, version: Long): Boolean = {
    val mode = spark.conf.getOption(ModeKey).getOrElse(ModeDefault)
    require(mode == "mor",
      s"upsertIntoTxn requires $ModeKey=mor (exactly-once marks ride " +
        "merge-on-read segments); cow rewrites have no per-batch segment")
    val applied = AtomicPublish.appendUpsertSegmentTxn(
      spark, tablePath, keys, appId, version)(p =>
        graft.engine.Sizing.coalesceForStaging(source).write.parquet(p))
      .isDefined
    if (applied) maybeAutoFold(spark, tablePath)
    applied
  }

  /** Row-level DELETE by key against a published table — the
    * merge-on-read twin of [[upsertInto]].
    *
    * Default ([[ModeKey]]=`mor`): the distinct keys of `keysSource`
    * land as a DELETE TOMBSTONE segment
    * ([[AtomicPublish.appendDeleteSegment]]) — write ∝ THE DELETED-KEY
    * SET, the commit lock held only for the manifest CAS. Readers drop
    * any earlier row the tombstone claims (a LATER upsert re-inserts
    * the key); [[compactMerged]] folds tombstones away, auto-firing at
    * [[CompactAfterKey]] like the upsert path. A 1-row delete against
    * a 100 TB table writes one tiny parquet file — the Iceberg
    * equality-delete shape; the pre-tombstone alternative (rewrite the
    * table minus the rows) costs the corpus per delete.
    *
    * Copy-on-write ([[ModeKey]]=`cow`): the reconciled table MINUS the
    * keys is rewritten under the optimistic CAS — no lock tenure,
    * racing appends abort the swap and the delete retries.
    *
    * Rows with NULL merge keys are never deleted (SQL join semantics),
    * matching [[upsertInto]]'s never-overridden contract for them. */
  def deleteFrom(spark: SparkSession, tablePath: String,
                 keysSource: DataFrame, keys: Seq[String]): DataFrame = {
    val tombstones = keysSource.select(keys.map(col): _*).distinct()
    val mode = spark.conf.getOption(ModeKey).getOrElse(ModeDefault)
    mode match {
      case "mor" =>
        // tombstone sets are key-sized; same writer-sizing rule as the
        // upsert staging above
        AtomicPublish.appendDeleteSegment(spark, tablePath, keys) { p =>
          graft.engine.Sizing.coalesceForStaging(tombstones).write.parquet(p)
        }
        maybeAutoFold(spark, tablePath)
      case "cow" =>
        val outcome = AtomicPublish.casRewrite(spark, tablePath,
          maxAttempts = 5, minSegments = 1, fold = false) { (paths, staging) =>
          val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
          val target = AtomicPublish.readOver(spark, tablePath, dirs)
          target.join(tombstones, keys, "left_anti").write.parquet(staging)
        }
        outcome match {
          case AtomicPublish.CompactOutcome.LostRace =>
            throw new IllegalStateException(
              s"deleteFrom(cow) at $tablePath: 5 attempts each found the " +
                "segment list changed under the rewrite; use " +
                s"$ModeKey=mor for this workload")
          case AtomicPublish.CompactOutcome.AlreadyCompact =>
            throw new IllegalStateException(
              s"deleteFrom: no published version (MANIFEST) at $tablePath")
          case _ => ()
        }
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be `mor` or `cow`, got `$other`")
    }
    AtomicPublish.read(spark, tablePath)
  }

  /** DELETE WHERE: evaluate `predicate` against the current reconciled
    * snapshot, land the matching keys as a tombstone
    * ([[deleteFrom]]). The snapshot read is key+predicate
    * column-pruned and its output is ∝ the MATCHED key set — the scan
    * is the irreducible cost of turning a predicate into keys.
    * Snapshot semantics: rows landing concurrently with the scan are
    * not covered (the tombstone binds to observed keys), the standard
    * read-committed DELETE contract. */
  def deleteWhere(spark: SparkSession, tablePath: String,
                  predicate: org.apache.spark.sql.Column,
                  keys: Seq[String]): DataFrame = {
    val matched = AtomicPublish.read(spark, tablePath)
      .filter(predicate).select(keys.map(col): _*)
    deleteFrom(spark, tablePath, matched, keys)
  }

  /** Row-level UPDATE: rewrite the columns in `set` for every current
    * row matching `predicate` (the Delta `UPDATE t SET … WHERE …`
    * shape). Rides the MERGE write path — the matched rows, with the
    * SET expressions applied, land as ONE upsert batch via
    * [[upsertInto]] — so the write cost is ∝ THE MATCHED ROWS under
    * merge-on-read (one segment + a manifest CAS; a 3-row update
    * against a 100 TB table writes 3 rows), the change feed sees the
    * commit as `update_postimage` rows for free, auto-fold and both
    * `mor`/`cow` modes apply unchanged. The snapshot scan that turns
    * the predicate into rows is predicate-pushed and zonemap-pruned
    * ([[AtomicPublish.read]]); it is the irreducible cost of finding
    * what to update. Read-committed like [[deleteWhere]]: rows landing
    * concurrently with the scan are not covered.
    *
    * Refused loudly: SET names a column the table lacks (UPDATE never
    * adds columns — that is schema evolution, [[upsertInto]] +
    * [[AllowEvolutionKey]]'s job) and SET touches a merge key (under
    * upsert semantics the old row would stay live — that is an
    * INSERT + DELETE, not an UPDATE). A predicate matching nothing
    * commits nothing — no empty segment, no manifest traffic. */
  def updateWhere(spark: SparkSession, tablePath: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  keys: Seq[String]): DataFrame = {
    require(set.nonEmpty, s"updateWhere at $tablePath: empty SET clause")
    val snap = AtomicPublish.read(spark, tablePath)
    val cols = snap.schema.fieldNames.toSeq
    val unknown = set.keys.filterNot(n => cols.exists(_.equalsIgnoreCase(n)))
    require(unknown.isEmpty,
      s"updateWhere at $tablePath: SET names unknown column(s) " +
        s"${unknown.mkString(", ")} — UPDATE never adds columns; use " +
        s"upsertInto with $AllowEvolutionKey for schema evolution")
    val keyHit = set.keys.filter(n => keys.exists(_.equalsIgnoreCase(n)))
    require(keyHit.isEmpty,
      s"updateWhere at $tablePath: SET touches merge key(s) " +
        s"${keyHit.mkString(", ")} — rewriting a key under merge " +
        "semantics leaves the old row live (that is INSERT + DELETE, " +
        "not UPDATE)")
    val updated = snap.filter(predicate).select(cols.map { c =>
      set.collectFirst { case (n, e) if n.equalsIgnoreCase(c) => e.as(c) }
        .getOrElse(col(c))
    }: _*)
    if (updated.isEmpty) snap
    else upsertInto(spark, tablePath, updated, keys)
  }

  /** FULL-SYNC MERGE: make the table mirror `source` — matched keys
    * update, new keys insert, and keys NOT matched by source DELETE
    * (the Delta `WHEN NOT MATCHED BY SOURCE THEN DELETE` shape, what a
    * replica fed from a system-of-record snapshot needs). Target rows
    * with NULL merge keys pass through untouched, matching
    * [[upsertInto]]'s never-overridden contract.
    *
    * Atomicity: under merge-on-read the upsert batch and the
    * not-matched tombstones land in ONE commit
    * ([[AtomicPublish.appendSegments]] — one manifest swap), so a
    * concurrent reader sees the pre-sync or post-sync table in full,
    * never the upserted-but-not-yet-deleted middle. Write cost is ∝
    * the batch + the stale-key set; the one corpus-proportional piece
    * is the KEY-COLUMN scan that finds stale keys (column-pruned —
    * the irreducible cost of "not matched by source"). Read-committed
    * like [[deleteWhere]]: rows landing concurrently with the
    * stale-key scan are not covered by the tombstone.
    *
    * Copy-on-write: one CAS rewrite to `source ∪ null-key rows` —
    * cost ∝ the corpus, reads stay join-free; same trade as every
    * other cow path. */
  def syncInto(spark: SparkSession, tablePath: String, source: DataFrame,
               keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, s"syncInto at $tablePath: empty key list")
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    val mode = spark.conf.getOption(ModeKey).getOrElse(ModeDefault)
    mode match {
      case "mor" =>
        val srcKeys = source.select(keys.map(col): _*)
          .filter(!anyKeyNull).distinct()
        val stale = AtomicPublish.read(spark, tablePath)
          .select(keys.map(col): _*).filter(!anyKeyNull).distinct()
          .join(srcKeys, keys, "left_anti")
        AtomicPublish.appendSegments(spark, tablePath, Seq(
          (Some(("upsert", keys)),
            (p: String) => source.write.parquet(p)),
          (Some(("delete", keys)),
            (p: String) => stale.write.parquet(p))))
        maybeAutoFold(spark, tablePath)
      case "cow" =>
        val outcome = AtomicPublish.casRewrite(spark, tablePath,
          maxAttempts = 5, minSegments = 1, fold = false) { (paths, staging) =>
          val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
          val target = AtomicPublish.readOver(spark, tablePath, dirs)
          val aligned = alignForEvolution(spark, tablePath, target, source)
          aligned._1.filter(anyKeyNull).unionByName(aligned._2)
            .write.parquet(staging)
        }
        outcome match {
          case AtomicPublish.CompactOutcome.LostRace =>
            throw new IllegalStateException(
              s"syncInto(cow) at $tablePath: 5 attempts each found the " +
                "segment list changed under the rewrite; use " +
                s"$ModeKey=mor for this workload")
          case AtomicPublish.CompactOutcome.AlreadyCompact =>
            throw new IllegalStateException(
              s"syncInto: no published version (MANIFEST) at $tablePath")
          case _ => ()
        }
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be `mor` or `cow`, got `$other`")
    }
    AtomicPublish.read(spark, tablePath)
  }

  /** PARTIAL OVERWRITE — the Delta `INSERT OVERWRITE … replaceWhere`
    * shape: atomically delete every current row matching `predicate`
    * and insert `batch` (whose rows must ALL satisfy the predicate —
    * refused loudly otherwise, per the Delta contract, so a mis-scoped
    * batch can never leak rows outside the partition it claims to
    * replace). The idiomatic daily-partition reload: replace
    * `dt = '2026-08-16'` with the recomputed day.
    *
    * Scale shape: segments whose ZONEMAPS prove no row can match the
    * predicate are KEPT IN PLACE — same dirs, same sidecars, zero
    * bytes moved ([[AtomicPublish.casRewriteMultiSelect]]); only
    * overlapping segments are rewritten (minus matching rows), and the
    * batch lands as one more segment, all under ONE manifest swap. On
    * a date-clustered 100 TB table a single-day replace rewrites the
    * handful of segments whose range admits that day — cost ∝ the
    * affected range, never the corpus. An unclustered table's zones
    * admit everything (full rewrite) — run [[AtomicPublish.optimizeTable]]
    * on the predicate columns first; that is the same pay-once trade
    * every skipping path in this protocol makes.
    *
    * Pending merge-on-read segments are FOLDED first (zone evidence
    * binds to reconciled data segments); a merge racing the rewrite
    * aborts the CAS and the replace retries against the new list,
    * reconciling whatever it then observes. NULL predicate rows are
    * kept (SQL WHERE semantics — DELETE covers rows where the
    * predicate is TRUE). The commit is NOT a fold: content changed,
    * so the change feed refuses windows across it (diff snapshots via
    * [[AtomicPublish.readAt]]), and an OPTIMIZE layout is invalidated
    * (the rewritten range segments change names) — re-cluster at the
    * next maintenance window, exactly as after a Delta replaceWhere. */
  def replaceWhere(spark: SparkSession, tablePath: String,
                   predicate: org.apache.spark.sql.Column,
                   batch: DataFrame, maxAttempts: Int = 3): DataFrame = {
    val current = AtomicPublish.read(spark, tablePath)
    val canon = current.schema.fieldNames.toSeq
    val bNames = batch.schema.fieldNames
    require(canon.forall(c => bNames.exists(_.equalsIgnoreCase(c))) &&
        bNames.length == canon.length,
      s"replaceWhere at $tablePath: batch schema (${bNames.mkString(", ")}) " +
        s"must match the table's (${canon.mkString(", ")}) — replaceWhere " +
        "never evolves schema")
    val aligned = batch.select(canon.map(col): _*)
    require(aligned.filter(!coalesce(predicate, lit(false))).isEmpty,
      s"replaceWhere at $tablePath: the batch contains rows that do NOT " +
        "satisfy the predicate — they would land outside the replaced " +
        "region; widen the predicate or fix the batch")
    // fold pending merges so zone evidence binds to plain data segments
    if (AtomicPublish.upsertSidecarsFor(spark, tablePath,
        AtomicPublish.currentSegments(spark, tablePath)).nonEmpty)
      compactMerged(spark, tablePath)
    val keepRow = !coalesce(predicate, lit(false))
    val conjuncts = resolvedConjuncts(spark, current, predicate)
    val outcome = AtomicPublish.casRewriteMultiSelect(spark, tablePath,
      maxAttempts, minSegments = 1,
      select = obs => {
        // a merge that raced the pre-fold: reconcile-everything fallback
        if (AtomicPublish.mergeSidecarsFor(spark, tablePath, obs).nonEmpty)
          (obs, Nil)
        else {
          val zones = AtomicPublish.zonesFor(spark, tablePath, obs)
          obs.partition(d => conjuncts.isEmpty ||
            ZoneMaps.mightMatch(zones.getOrElse(d, Map.empty), conjuncts))
        }
      },
      onCommit = (_, _, _) => (),
      fold = false) { (paths, staging) =>
      val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
      if (AtomicPublish.mergeSidecarsFor(spark, tablePath, dirs).nonEmpty)
        AtomicPublish.readOver(spark, tablePath, dirs).filter(keepRow)
          .write.parquet(s"$staging/seg-00000")
      else dirs.zipWithIndex.foreach { case (d, i) =>
        AtomicPublish.committedScan(spark, tablePath, Seq(d)).filter(keepRow)
          .write.parquet(f"$staging/seg-$i%05d")
      }
      aligned.write.parquet(f"$staging/seg-${paths.length}%05d")
    }
    outcome match {
      case AtomicPublish.CompactOutcome.AlreadyCompact =>
        // zones prove NO current row matches: nothing to delete, the
        // batch appends — still one commit
        AtomicPublish.appendSegment(spark, tablePath)(p =>
          aligned.write.parquet(p))
        ()
      case AtomicPublish.CompactOutcome.LostRace =>
        throw new IllegalStateException(
          s"replaceWhere at $tablePath: $maxAttempts attempts each found " +
            "the segment list changed under the rewrite — retry at a " +
            "quieter moment or raise maxAttempts")
      case _ => ()
    }
    AtomicPublish.read(spark, tablePath)
  }

  /** `predicate` resolved against `df`'s schema and split into its
    * conjuncts — the [[ZoneMaps.mightMatch]] input shape. Empty when
    * no Filter survives analysis (e.g. a literal predicate): callers
    * treat that as prune-nothing. */
  private def resolvedConjuncts(spark: SparkSession, df: DataFrame,
                                predicate: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.And
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x         => Seq(x)
    }
    df.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.map(split).getOrElse(Nil)
  }

  /** Apply the evolution contract to a (target, source) pair for the
    * copy-on-write path: refuse dropped columns loudly; null-backfill
    * the target for added ones when [[AllowEvolutionKey]] admits them.
    * (The merge-on-read path enforces the same contract at segment
    * commit — AtomicPublish.checkUpsertContract.) */
  private def alignForEvolution(spark: SparkSession, tablePath: String,
                                target: DataFrame, source: DataFrame)
      : (DataFrame, DataFrame) = {
    val tNames = target.schema.fieldNames
    val sNames = source.schema.fieldNames
    val dropped = tNames.filterNot(n => sNames.exists(_.equalsIgnoreCase(n)))
    require(dropped.isEmpty,
      s"upsert into $tablePath: source batch is MISSING existing column(s) " +
        s"${dropped.mkString(", ")} — align the source schema")
    val added = source.schema.fields.filterNot(f =>
      tNames.exists(_.equalsIgnoreCase(f.name)))
    if (added.isEmpty) (target, source)
    else {
      val allow = spark.conf.getOption(AllowEvolutionKey).exists(_.toBoolean)
      require(allow,
        s"upsert into $tablePath: source batch ADDS column(s) " +
          s"${added.map(_.name).mkString(", ")}; set $AllowEvolutionKey=true " +
          "to accept schema evolution")
      val widened = added.foldLeft(target)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
      (widened, source)
    }
  }

  /** The merge paths' auto-fold trigger: fires [[compactMerged]] when
    * the PENDING merge-on-read segment count (upsert + delete
    * sidecars) reaches [[CompactAfterKey]]. Pending segments — not
    * total segments — are what read-time reconciliation pays for; the
    * pre-round-16 total-count trigger folded a 16-segment CLUSTERED
    * table on its very first merge, flattening the optimize layout and
    * re-paying the corpus per merge. Best-effort by design: a
    * LostRace just defers to the next merge. */
  private def maybeAutoFold(spark: SparkSession, tablePath: String): Unit = {
    val foldAt = spark.conf.getOption(CompactAfterKey)
      .map(_.toInt).getOrElse(CompactAfterDefault)
    if (foldAt > 0) {
      val segs = AtomicPublish.currentSegments(spark, tablePath)
      if (AtomicPublish.upsertSidecarsFor(spark, tablePath, segs).size
          >= foldAt) {
        compactMerged(spark, tablePath)
        ()
      }
    }
  }

  /** KEYLESS copy-on-write DELETE: drop every current row matching
    * `predicate`, rewriting ONLY the segments whose zonemaps admit a
    * match — zone-DISJOINT segments stay in place (same partial-CAS
    * shape as [[replaceWhere]]), so a one-day purge on a
    * date-clustered 100 TB table rewrites the affected range, never
    * the corpus. This is the DELETE for tables with no merge keys
    * (the SQL `DELETE FROM t WHERE …` door routes here when the table
    * carries no `merge.keys`); keyed tables should prefer
    * [[deleteWhere]], whose tombstone write is ∝ the matched KEYS.
    * NULL predicate rows are kept (SQL WHERE semantics: DELETE
    * removes rows where the predicate IS TRUE). Segment boundaries
    * are preserved one-to-one, so a clustering layout survives the
    * delete. A predicate no zonemap admits commits NOTHING — zero
    * manifest traffic. */
  def deleteMatching(spark: SparkSession, tablePath: String,
                     predicate: org.apache.spark.sql.Column,
                     maxAttempts: Int = 3): DataFrame =
    cowRewriteMatching(spark, tablePath, predicate, maxAttempts,
      "deleteMatching")(df => df.filter(!coalesce(predicate, lit(false))))

  /** KEYLESS copy-on-write UPDATE: apply the SET expressions to every
    * current row matching `predicate`, rewriting only zone-affected
    * segments ([[deleteMatching]]'s partial-CAS shape — disjoint
    * segments untouched, clustering preserved). The keyless
    * counterpart of [[updateWhere]] for tables with no merge keys;
    * refuses SET on unknown columns (UPDATE never adds columns).
    * Unlike [[updateWhere]] there is no key restriction — with no
    * merge semantics in play, rewriting any column is safe. */
  def updateMatching(spark: SparkSession, tablePath: String,
                     predicate: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     maxAttempts: Int = 3): DataFrame = {
    require(set.nonEmpty, s"updateMatching at $tablePath: empty SET clause")
    val cols = AtomicPublish.read(spark, tablePath).schema.fieldNames.toSeq
    val unknown = set.keys.filterNot(n => cols.exists(_.equalsIgnoreCase(n)))
    require(unknown.isEmpty,
      s"updateMatching at $tablePath: SET names unknown column(s) " +
        s"${unknown.mkString(", ")} — UPDATE never adds columns")
    val hit = coalesce(predicate, lit(false))
    cowRewriteMatching(spark, tablePath, predicate, maxAttempts,
      "updateMatching")(df => df.select(cols.map { c =>
        set.collectFirst { case (n, e) if n.equalsIgnoreCase(c) =>
          when(hit, e.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
        }.getOrElse(col(c))
      }: _*))
  }

  /** Shared partial-CAS core of [[deleteMatching]]/[[updateMatching]]:
    * fold pending merges (zone evidence binds to plain data segments),
    * select the zonemap-OVERLAPPING segments, rewrite each through
    * `transform` PRESERVING segment boundaries (seg-i in, seg-i out —
    * a clustered layout survives), keep the rest in place. `fold =
    * false` on the commit: a row-changing rewrite must not claim
    * content preservation, so the change feed refuses across it
    * loudly instead of silently diffing through (same contract as
    * [[replaceWhere]] / cow-mode DML). */
  private def cowRewriteMatching(spark: SparkSession, tablePath: String,
                                 predicate: org.apache.spark.sql.Column,
                                 maxAttempts: Int, what: String)
                                (transform: DataFrame => DataFrame)
      : DataFrame = {
    if (AtomicPublish.upsertSidecarsFor(spark, tablePath,
        AtomicPublish.currentSegments(spark, tablePath)).nonEmpty)
      compactMerged(spark, tablePath)
    val current = AtomicPublish.read(spark, tablePath)
    val conjuncts = resolvedConjuncts(spark, current, predicate)
    val outcome = AtomicPublish.casRewriteMultiSelect(spark, tablePath,
      maxAttempts, minSegments = 1,
      select = obs => {
        // a merge that raced the pre-fold: reconcile-everything fallback
        if (AtomicPublish.mergeSidecarsFor(spark, tablePath, obs).nonEmpty)
          (obs, Nil)
        else {
          val zones = AtomicPublish.zonesFor(spark, tablePath, obs)
          obs.partition(d => conjuncts.isEmpty ||
            ZoneMaps.mightMatch(zones.getOrElse(d, Map.empty), conjuncts))
        }
      },
      onCommit = (_, _, _) => (),
      fold = false) { (paths, staging) =>
      val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
      if (AtomicPublish.mergeSidecarsFor(spark, tablePath, dirs).nonEmpty)
        transform(AtomicPublish.readOver(spark, tablePath, dirs))
          .write.parquet(s"$staging/seg-00000")
      else dirs.zipWithIndex.foreach { case (d, i) =>
        transform(AtomicPublish.committedScan(spark, tablePath, Seq(d)))
          .write.parquet(f"$staging/seg-$i%05d")
      }
    }
    outcome match {
      case AtomicPublish.CompactOutcome.LostRace =>
        throw new IllegalStateException(
          s"$what at $tablePath: $maxAttempts attempts each found the " +
            "segment list changed under the rewrite — retry at a quieter " +
            "moment or raise maxAttempts")
      case _ => () // AlreadyCompact: zones prove nothing matches — no-op
    }
    AtomicPublish.read(spark, tablePath)
  }

  /** FOLD a merge-on-read table — the LSM compaction that keeps
    * read-time reconciliation bounded. Zero lock tenure during the
    * rewrite; a LostRace leaves the table untouched (the next merge or
    * an explicit retry folds it).
    *
    * LAYOUT-PRESERVING: a table whose manifest still carries a valid
    * OPTIMIZE layout ([[AtomicPublish.clusterMeta]]) folds its new
    * segments INTO that range layout
    * (`optimizeTable(onlyNew = true)` — cost ∝ new data + affected
    * ranges, clustering preserved); only unclustered tables flatten to
    * one arrival-ordered base segment (the pre-round-16 behavior).
    * Without this, every auto-fold UNDID the clustering a user paid a
    * corpus shuffle for, and the next range query re-scanned
    * everything. */
  def compactMerged(spark: SparkSession, tablePath: String,
                    maxAttempts: Int = 3): AtomicPublish.CompactOutcome = {
    val observed = AtomicPublish.currentSegments(spark, tablePath)
    AtomicPublish.clusterMeta(spark, tablePath) match {
      case Some((cols, clustered))
          if clustered.nonEmpty && clustered.forall(observed.contains) =>
        AtomicPublish.optimizeTable(spark, tablePath, cols,
          segments = math.max(2, clustered.size), maxAttempts,
          onlyNew = true)
      case _ =>
        AtomicPublish.casRewrite(spark, tablePath, maxAttempts,
          minSegments = 2) { (paths, staging) =>
          val dirs = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
          AtomicPublish.readOver(spark, tablePath, dirs).write.parquet(staging)
        }
    }
  }
}

object Compact {

  /** Rewrite a fragmented parquet directory into ~`targetBytes` files:
    * list the leaves, size the output partition count from real bytes,
    * and round-robin repartition into the rewrite. Returns the
    * compacted-file DataFrame reader.
    *
    * At 100 TB compaction runs per partition-directory (this function's
    * unit of work), bin-packing each independently — never a global
    * rewrite of the table. The shuffle it pays is the point: it buys
    * every later scan fewer, larger, row-group-aligned files.
    */
  def rewrite(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    // Resolve the manifest first when the INPUT is itself a published
    // table (chained compactions, compacting MergeInto or appendSegment
    // output): its root holds only MANIFEST + data-* directories, which
    // a raw parquet read cannot infer a schema from. ALL segments are
    // read — compacting a segmented table collapses it to one segment —
    // and pending upsert segments are RECONCILED (readOver), never
    // re-materialized as duplicates.
    def resolveInDirs(): Seq[String] =
      AtomicPublish.currentSegments(spark, inPath) match {
        case Nil => Seq(inPath)
        case segs => segs.map(d => s"$inPath/$d")
      }
    def readInput(dirs: Seq[String]): DataFrame =
      if (dirs == Seq(inPath)) spark.read.parquet(inPath)
      else AtomicPublish.readOver(spark, inPath,
        dirs.map(p => p.substring(p.lastIndexOf('/') + 1)))
    val sizedDirs = resolveInDirs()
    val fs = new org.apache.hadoop.fs.Path(sizedDirs.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = sizedDirs.map(d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum).sum
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val selfTarget = inPath == outPath &&
      AtomicPublish.currentSegments(spark, inPath).nonEmpty
    if (selfTarget) {
      // self-compaction of a live table: the optimistic CAS is what
      // makes racing appenders safe — a segment committed during the
      // rewrite aborts the swap and the rewrite retries against the
      // new list (pre-round-15: the whole rewrite ran under the commit
      // lock, starving appenders instead)
      AtomicPublish.casRewrite(spark, inPath, maxAttempts = 3,
        minSegments = 1) { (paths, staging) =>
        readInput(paths).repartition(parts).write.parquet(staging)
      } match {
        case AtomicPublish.CompactOutcome.LostRace =>
          throw new IllegalStateException(
            s"Compact.rewrite at $inPath: segment list kept changing under " +
              "the rewrite (3 attempts) — retry when the append rate drops")
        case _ => ()
      }
    } else {
      // cross-table rewrite: publish REPLACES outPath; the input plan
      // binds inside the callback so the freshest input list is read
      AtomicPublish.publish(spark, outPath) { dataPath =>
        readInput(resolveInDirs())
          .repartition(parts)
          .write.parquet(dataPath)
      }
    }
    AtomicPublish.read(spark, outPath)
  }

  /** Data-file count of a parquet directory (compaction evidence);
    * resolves the manifest (all segments) when `path` is published. */
  def parquetFileCount(spark: SparkSession, path: String): Int = {
    val dirs = AtomicPublish.currentSegments(spark, path) match {
      case Nil => Seq(path)
      case segs => segs.map(d => s"$path/$d")
    }
    val fs = new org.apache.hadoop.fs.Path(dirs.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.map(d => fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))).sum
  }
}
