package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Object-store-safe publish protocol for staged/derived artifacts
  * (materialized indexes, compacted stores, upsert snapshots).
  *
  * The round-1/2 publish idiom — write to `<dir>__tmp`, `rename(tmp,
  * dir)` — is atomic only where directory rename is atomic (POSIX,
  * HDFS). On S3A, the reference's actual sink (reference
  * docker-compose.yml minio + spark-apps/weather_streaming.py:170-177
  * write `s3a://`), a directory rename is a non-atomic O(n) copy:
  * readers can observe half a directory and a crash strands a half
  * copy. This committer never renames a data directory:
  *
  *  1. data is written to a fresh immutable version dir
  *     `<base>/v_<millis>_<uuid>` (Spark's job committer puts `_SUCCESS`
  *     there when the write completes);
  *  2. the single-object pointer file `<base>/LATEST` (version name +
  *     source fingerprint) is atomically replaced LAST —
  *     `FileContext.rename(OVERWRITE)` on HDFS/local, and on an object
  *     store a one-key copy, i.e. one atomic PUT;
  *  3. readers resolve `LATEST` and only ever see a version dir whose
  *     write finished — a crash anywhere before (2) leaves the previous
  *     version live and at worst an orphan dir that pruning removes.
  *
  * After a successful flip, the version the pointer PREVIOUSLY named
  * is kept as a one-deep grace window — a reader that resolved it just
  * before the flip can finish its scan — and everything older (plus
  * never-pointed orphans from crashed writers) is pruned best-effort.
  * Storage overhead is bounded at one superseded version per store.
  *
  * The fingerprint stored in the pointer keys the artifact to its
  * SOURCE data (file names/sizes/mtimes), so regenerating a dataset at
  * the same path invalidates every cache built from it — the round-2
  * stale-shingle-index advisory.
  */
object VersionedStore {

  /** Pointer contents: which version is live, built from what source. */
  final case class Pointer(version: String, fingerprint: String)

  private def latestPath(base: Path) = new Path(base, "LATEST")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint of a source dataset directory: one 64-bit hash over
    * the SORTED concatenation of per-file `relpath:len:mtime` records,
    * recursing into subdirectories (hive-partitioned sources change in
    * their leaves). Sorting makes listing order irrelevant without an
    * XOR/commutative fold — the round-3 XOR-of-32-bit version had ~32
    * bits of effective entropy and let paired per-file changes cancel,
    * so a stale artifact could be served as fresh. Cheap — LISTs only,
    * no data read.
    */
  def fingerprintOf(spark: SparkSession, srcDir: String): String = {
    val root = new Path(srcDir)
    val f = fs(spark, root)
    val records = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: Path, prefix: String): Unit =
      f.listStatus(dir).filterNot(_.getPath.getName.startsWith("_")).foreach { st =>
        val rel = prefix + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, rel + "/")
        else records += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
    if (f.getFileStatus(root).isDirectory) walk(root, "")
    else records += s"${root.getName}:${f.getFileStatus(root).getLen}:${f.getFileStatus(root).getModificationTime}"
    val blob = records.sorted.mkString("\n")
    // two independently-seeded 32-bit murmurs → one 64-bit value
    val hi = scala.util.hashing.MurmurHash3.stringHash(blob, 0x9747b28c)
    val lo = scala.util.hashing.MurmurHash3.stringHash(blob, 0x85ebca6b)
    java.lang.Long.toHexString((hi.toLong << 32) | (lo.toLong & 0xffffffffL))
  }

  def readPointer(spark: SparkSession, base: String): Option[Pointer] = {
    val latest = latestPath(new Path(base))
    val f = fs(spark, latest)
    if (!f.exists(latest)) None
    else {
      // Two local-FS-only torn-read transients map to "no pointer right
      // now" (a caller that needs the pointer re-reads): the file can
      // vanish between exists() and open() where rename-OVERWRITE is
      // emulated as delete-then-rename, and ChecksumFileSystem replaces
      // LATEST and its .crc sidecar non-atomically under a concurrent
      // flip. Neither exists on HDFS (server-side atomic rename) or
      // object stores (atomic PUT, no client-side crc sidecar).
      val content = try {
        val in = f.open(latest)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => return None
        case _: org.apache.hadoop.fs.ChecksumException => return None
      }
      // split with -1 limit: an empty fingerprint leaves a trailing
      // empty field that a bare split would silently drop
      content.split("\t", -1) match {
        case Array(v, fp) => Some(Pointer(v.trim, fp.trim))
        case _ => None
      }
    }
  }

  /** Marker a legacy-migration writer drops FIRST and removes LAST in
    * its version dir: its presence is what distinguishes a crashed
    * migration (whose contents a rerun must pull back in) from a
    * complete-but-unpointed version (which must NOT be merged — doing
    * so would silently duplicate rows).
    */
  val MigratingMarker = "_MIGRATING"

  /** A version dir whose write finished: `_SUCCESS` present and no
    * in-progress migration marker.
    */
  def isComplete(f: FileSystem, dir: Path): Boolean =
    f.exists(new Path(dir, "_SUCCESS")) &&
      !f.exists(new Path(dir, MigratingMarker))

  /** The live, fully-written version dir — None if there is no pointer,
    * the pointed dir is gone/incomplete, or (when `fingerprint` is
    * given) the artifact was built from different source data.
    */
  def resolve(spark: SparkSession, base: String,
      fingerprint: Option[String] = None): Option[Path] =
    readPointer(spark, base).flatMap { ptr =>
      val dir = new Path(base, ptr.version)
      val ok = fingerprint.forall(_ == ptr.fingerprint) &&
        isComplete(fs(spark, dir), dir)
      if (ok) Some(dir) else None
    }

  /** Recovery for a store whose POINTER was lost/corrupted but whose
    * version dirs survive (e.g. live + grace window): re-point to the
    * newest complete version. A COMPLETE version always wins over
    * root-level data files: the versioned protocol never legitimately
    * leaves both (a genuine legacy store has no complete `v_` dirs, and
    * a crashed migration's dir still carries `_MIGRATING`), so
    * root-files-plus-complete-version means a finished publish whose
    * root sweep crashed — re-pointing at the version is right, and
    * falling into legacy migration would resurrect stale pre-merge
    * data while pruning the newer merged store. Returns None when
    * root-level data files exist WITHOUT any complete version (true
    * legacy-migration case) or nothing complete is found. The
    * fingerprint is reset — a fingerprint-keyed artifact will
    * conservatively rebuild.
    */
  def repair(spark: SparkSession, base: String): Option[Path] = {
    val basePath = new Path(base)
    val f = fs(spark, basePath)
    if (!f.exists(basePath)) return None
    val entries = f.listStatus(basePath)
    val candidates = entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_") &&
        isComplete(f, st.getPath))
      .map(_.getPath.getName).sorted // v_<13-digit-millis>_<uuid>: lexicographic = temporal
    candidates.lastOption.map { version =>
      flipPointer(spark, basePath, s"$version\t")
      new Path(basePath, version)
    }
  }

  /** Atomically replace the `LATEST` pointer: write the content to a
    * uniquely-named temp file, then `FileContext.rename(OVERWRITE)` it
    * over the pointer — one atomic object replace on HDFS and object
    * stores. The LOCAL filesystem emulates OVERWRITE as delete-then-
    * rename, so two concurrent flips can collide there with
    * FileAlreadyExistsException (the destination reappears between one
    * flip's delete and its rename); a bounded retry resolves that
    * emulation-only race — each individual rename is still a complete
    * pointer replacement, so readers never observe a partial pointer.
    */
  /** Per-base JVM locks serializing pointer flips. On HDFS the flip is
    * one server-side atomic rename and on object stores one atomic PUT,
    * so concurrent flips are inherently safe there. The LOCAL filesystem
    * emulates rename-OVERWRITE as delete-then-rename of TWO files (the
    * pointer and its ChecksumFileSystem .crc sidecar); two interleaved
    * flips can strand LATEST's content from one writer with the crc of
    * the other — a TORN pointer that fails every read until the next
    * flip. Serializing same-process flips removes that interleaving;
    * the bounded retry below covers cross-process local collisions.
    */
  private val flipLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def flipPointer(spark: SparkSession, basePath: Path, content: String): Unit =
    flipLocks.computeIfAbsent(basePath.toString, _ => new Object).synchronized {
      flipPointerExclusive(spark, basePath, content)
    }

  private def flipPointerExclusive(spark: SparkSession, basePath: Path, content: String): Unit = {
    val f = fs(spark, basePath)
    val tmp = new Path(basePath, s".LATEST.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(basePath.toUri,
      spark.sparkContext.hadoopConfiguration)
    var attempts = 0
    var done = false
    while (!done) {
      try {
        fc.rename(tmp, latestPath(basePath), Options.Rename.OVERWRITE)
        done = true
      } catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempts += 1
          if (attempts >= 20) throw e
          Thread.sleep(1)
      }
    }
  }

  /** Prefix of the intent-lease file a writer drops at the base BEFORE
    * creating its version dir and removes AFTER its pointer flip. A
    * concurrent prune cannot tell an in-flight writer's not-yet-pointed
    * version from a crashed writer's orphan by looking at the dir alone
    * — both are complete-looking and unpointed — so without the lease a
    * racing publisher's prune could delete a version another writer is
    * about to point LATEST at. With it, prune skips leased versions and
    * only reclaims a leased orphan once the lease has gone stale
    * (writer presumed crashed) — the same TTL-gated orphan GC shape as
    * Iceberg's remove-orphan-files / Delta's vacuum.
    */
  private val IntentPrefix = ".INTENT."

  private def intentPath(base: Path, version: String) =
    new Path(base, IntentPrefix + version)

  /** How long an in-flight writer's lease (and a stray pointer temp)
    * is honored before prune presumes the writer crashed and reclaims.
    * Must exceed the longest expected version write; the cost of a
    * large value is only deferred GC of genuinely crashed writes.
    */
  private def intentTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.store.intentTtlMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Write one new version via `write(dirString)` (must produce
    * `_SUCCESS`, as every Spark parquet write does), then flip the
    * pointer and prune superseded versions. Returns the version dir.
    *
    * CONCURRENCY CONTRACT: concurrent publishers are safe —
    * last-flip-wins on the pointer (each flip is an atomic single-object
    * replace), and prune can never break a racing writer: it re-reads
    * the pointer at delete time and unconditionally keeps the version it
    * names (a losing writer cannot delete what the winner just pointed
    * at), it honors in-flight writers' intent leases (it cannot delete a
    * version that is about to be pointed at), and it leaves fresh
    * pointer temp files alone (it cannot break a flip mid-rename).
    * StoreConcurrencySpec drives interleaved publishers plus a polling
    * reader over randomized schedules to hold this contract to account.
    */
  def publish(spark: SparkSession, base: String, fingerprint: String = "",
      keepVersions: Int = 1, fence: () => Boolean = () => true)(
      write: String => Unit): Path = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val basePath = new Path(base)
    val f = fs(spark, basePath)
    f.mkdirs(basePath)
    val version = s"v_${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(basePath, version)
    val intent = intentPath(basePath, version)
    f.create(intent, true).close()
    try {
      write(dir.toString)
      if (!f.exists(new Path(dir, "_SUCCESS")))
        throw new java.io.IOException(s"publish to $dir left no _SUCCESS marker")
      // the version being superseded survives one publish as a grace
      // window for in-flight readers that resolved it pre-flip
      val grace = readPointer(spark, base).map(_.version)
      // retention: the newest (keepVersions - 1) PRIOR versions survive
      // alongside the new one as time-travel targets ([[readVersion]]/
      // [[rollback]]). Strictly-before-by-name, so keepVersions = 1
      // retains exactly {version} — the original protocol — and a
      // same-millisecond crash orphan can never tie its way into the
      // keep set (orphans are complete but were never pointed; with
      // retention > 1 the newest prior complete version is kept even if
      // it was such an orphan — names alone cannot tell a retired
      // version from one that missed its flip, and keeping it errs
      // toward data surviving)
      val retained = listVersions(spark, base)
        .filter(_ < version).takeRight(keepVersions - 1).toSet + version
      // fencing hook, checked AFTER the full data write and immediately
      // before the pointer flip: the write is the long part of a
      // publish (a store rewrite can take minutes), so a fence checked
      // any earlier leaves the whole write as an unfenced window —
      // [[maintain]] passes its lease-ownership probe here, which is
      // what actually shrinks the paused-past-TTL double-writer window
      // to fence→flip
      if (!fence()) {
        // Unlike a crash orphan, a fenced-out writer is ALIVE — so it
        // can (and must) clean up after itself: its fully-written dir
        // has _SUCCESS, making it indistinguishable from a committed
        // version to listVersions, and with keepVersions >= 2 the next
        // publish's retention pass could retain this never-served merge
        // as a time-travel target while pruning a genuinely-served
        // prior version. Best-effort recursive delete before throwing
        // removes that hazard at its source; if the delete itself fails
        // the dir degrades to a crash-orphan-equivalent (kept only by
        // the documented retention ambiguity, never pointed at).
        try f.delete(dir, true) catch { case _: java.io.IOException => () }
        throw new java.util.ConcurrentModificationException(
          s"publish fence failed for $base: the caller's guard (e.g. its " +
            "maintenance lease) was lost during the version write — " +
            "aborting before the pointer flip; the written dir was " +
            "best-effort deleted")
      }
      // Single-object atomic pointer flip — never a directory rename.
      flipPointer(spark, basePath, s"$version\t$fingerprint")
      prune(spark, basePath, keep = Set(version) ++ grace ++ retained)
      dir
    } finally {
      // flip done (we are pointed/kept) or write failed (our dir is a
      // true orphan): either way the lease has served its purpose
      try f.delete(intent, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Complete (committed) versions at `base`, oldest→newest — the
    * time-travel catalog. `v_<13-digit-millis>_<uuid>` names sort
    * lexicographically = temporally.
    */
  def listVersions(spark: SparkSession, base: String): Seq[String] = {
    val basePath = new Path(base)
    val f = fs(spark, basePath)
    try f.listStatus(basePath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_") &&
        isComplete(f, st.getPath))
      .map(_.getPath.getName).sorted.toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Time-travel read of one retained version (throws if it was pruned
    * or never committed). Pair with `publish(keepVersions = N)`.
    */
  def readVersion(spark: SparkSession, base: String, version: String): DataFrame = {
    val dir = new Path(new Path(base), version)
    val f = fs(spark, dir)
    if (!isComplete(f, dir)) throw new java.io.FileNotFoundException(
      s"version $version at $base is not a complete committed version")
    readCommitted(spark, dir)
  }

  /** Roll the pointer back (or forward) to a retained version — a
    * pointer-only flip, no data moves, same atomic single-object
    * discipline as publish. The target is intent-leased through the
    * flip so a concurrent publisher's prune cannot delete it mid-
    * rollback. Versions newer than the target are NOT pruned (roll
    * forward stays possible until the next publish's retention pass).
    * `fingerprint` defaults to empty, which makes fingerprint-keyed
    * readers ([[readOrBuild]]) rebuild rather than trust the rolled-
    * back artifact — pass the version's original fingerprint to keep
    * them serving it.
    */
  def rollback(spark: SparkSession, base: String, version: String,
      fingerprint: String = ""): Unit = {
    val basePath = new Path(base)
    val f = fs(spark, basePath)
    val dir = new Path(basePath, version)
    if (!isComplete(f, dir)) throw new java.io.FileNotFoundException(
      s"cannot roll back to $version at $base: not a complete committed version")
    val intent = intentPath(basePath, version)
    f.create(intent, true).close()
    try flipPointer(spark, basePath, s"$version\t$fingerprint")
    finally {
      try f.delete(intent, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Best-effort removal of version dirs outside the keep set (older
    * superseded versions + orphans from crashed writers), stale intent
    * leases, and stale pointer temp files. Safety against racing
    * publishers, in order: (1) re-reads the pointer at delete time and
    * unconditionally keeps the version it names; (2) skips any version
    * under a live intent lease — an in-flight writer that has not
    * flipped yet; (3) only removes pointer temps older than the lease
    * TTL, so a concurrent flip's temp file is never yanked mid-rename.
    */
  private def prune(spark: SparkSession, base: Path, keep: Set[String]): Unit = {
    val f = fs(spark, base)
    val now = System.currentTimeMillis()
    val ttl = intentTtlMs(spark)
    try {
      // ORDER MATTERS: list first, read the pointer second. A version is
      // lease-covered from creation until just AFTER its flip, so a
      // version that appears in the listing WITHOUT a live lease had
      // already flipped before our (later) pointer read — if that read
      // doesn't name it, it is genuinely superseded. Reading the pointer
      // before listing reopens the race this closes: a flip landing
      // between the two makes the new version look like an unleased,
      // unpointed orphan and prune would delete the live version.
      val entries = f.listStatus(base)
      val pointed = readPointer(spark, base.toString).map(_.version)
      val keepAll = keep ++ pointed
      val leased = entries.filter { st =>
        st.getPath.getName.startsWith(IntentPrefix) &&
          now - st.getModificationTime < ttl
      }.map(_.getPath.getName.stripPrefix(IntentPrefix)).toSet
      // The listing is a snapshot — and on paginated object-store
      // listings (S3A ListObjectsV2, HDFS partial listings) not even a
      // consistent one: '.INTENT.x' sorts before 'v_x', so a lease
      // created between pages can be absent from `entries` while its
      // later-created version dir is present. Deleting on the listing
      // alone would kill an in-flight writer's unpointed version — the
      // exact race the lease exists to close. So before deleting, point-
      // check the lease with a direct getFileStatus (one HEAD per delete
      // candidate — rare); a point read cannot miss due to paging.
      def liveLease(n: String): Boolean = try {
        now - f.getFileStatus(intentPath(base, n)).getModificationTime < ttl
      } catch { case _: java.io.FileNotFoundException => false }
      entries.foreach { st =>
        val n = st.getPath.getName
        val stale = now - st.getModificationTime >= ttl
        if (n.startsWith("v_") && !keepAll(n) && !leased(n) && !liveLease(n)) {
          f.delete(st.getPath, true)
          schemaCatalog.remove(catalogKey(st.getPath))
        }
        else if (n.startsWith(".LATEST.tmp_") && stale)
          f.delete(st.getPath, false)
        else if (n.startsWith(IntentPrefix) && stale)
          f.delete(st.getPath, false)
        else if (n.startsWith(".MAINT_LEASE.reclaim_") && stale)
          // a lease reclaimer that crashed between its takeover rename
          // and the delete leaves this orphan — harmless, but GC it
          f.delete(st.getPath, false)
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Per-base JVM monitors backing [[withMaintenanceLease]] for
    * same-process writers.
    */
  private val maintLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Advisory lease serializing MAINTENANCE read-modify-write cycles
    * (append/update/delete of a store): publish's pointer flip is
    * atomic but last-flip-wins, so two concurrent maintenance ops that
    * both read version N would silently drop the loser's change. The
    * lease closes that: same-process writers serialize on a JVM
    * monitor; cross-process writers race on an EXCLUSIVE create of
    * `.MAINT_LEASE` — atomic on HDFS (namenode-arbitrated create) and
    * on object stores with conditional PUT (If-None-Match); the local
    * filesystem's check-then-create window is covered by the JVM
    * monitor, which is the only concurrency a single-machine test
    * exercises. Acquisition gives up after the TTL (a stuck writer
    * should surface, not queue silently). Readers never take the lease
    * — serving stays lock-free (the OpsSpec serve-during-append pin).
    *
    * Crashed-writer recovery, two halves:
    *  - While the body runs, a HEARTBEAT daemon touches the lock's
    *    mtime every ttl/4, so a LIVE writer whose maintenance cycle
    *    outlasts the TTL is never presumed crashed and taken over
    *    mid-publish — the TTL bounds heartbeat loss (a real crash),
    *    not cycle length.
    *  - A lock whose mtime HAS gone stale is taken over by atomically
    *    RENAMING that specific file to a per-contender reclaim name:
    *    exactly one racer's rename succeeds (the loser's fails — the
    *    source is gone), unlike the delete-then-create shape where two
    *    contenders can both observe staleness, the second's delete
    *    removing the first's freshly created lock and letting both
    *    enter. The winner re-checks the RENAMED file's mtime (rename
    *    preserves it): if it turned out fresh — the holder deleted the
    *    stale lock and a new writer re-created it inside our
    *    stat-to-rename window — the winner renames it back and keeps
    *    waiting; it never enters on a stolen live lease.
    *
    * The lock file carries the holder's UUID: heartbeat renewal and
    * the release delete both verify the lock is still OURS first, so a
    * holder that was paused past the TTL and taken over cannot, on
    * resume, refresh or delete the new holder's lease (the residual
    * check-to-delete window requires a second >TTL pause landing
    * exactly between the two — the heartbeat has just refreshed the
    * mtime at that point).
    */
  def withMaintenanceLease[T](spark: SparkSession, base: String)(body: => T): T =
    withMaintenanceLeaseFenced(spark, base)(_ => body)

  /** [[withMaintenanceLease]] handing the body a live ownership probe
    * (`() => Boolean`, true while the lock file still carries OUR
    * holder id). A holder paused past the TTL (GC, CPU starvation) and
    * taken over can otherwise resume and complete its read-modify-write
    * publish concurrently with the new holder — the probe lets the
    * commit path re-verify and abort instead: [[maintain]] checks it
    * once after the merge (cheap early abort before paying the version
    * write) and passes it as [[publish]]'s `fence`, which re-checks
    * AFTER the full data write, immediately before the pointer flip.
    * BEST-EFFORT fencing: a pause landing exactly between the fence
    * and the flip still slips through — closing that fully needs an
    * epoch token the pointer compare-and-swaps on, which a rename-based
    * FS contract cannot express; the fence shrinks the window from the
    * whole merge-plus-write cycle to fence→flip (milliseconds).
    */
  def withMaintenanceLeaseFenced[T](spark: SparkSession, base: String)(
      body: (() => Boolean) => T): T =
    maintLocks.computeIfAbsent(base, _ => new Object).synchronized {
      val basePath = new Path(base)
      val f = fs(spark, basePath)
      f.mkdirs(basePath)
      val lock = new Path(basePath, ".MAINT_LEASE")
      val ttl = intentTtlMs(spark)
      val deadline = System.currentTimeMillis() + ttl
      // the holder's identity, written INTO the lock: release deletes
      // the lock only if it is still ours. Without this, a holder
      // paused past the TTL (GC, CPU starvation) that was taken over
      // would, on resume, delete the NEW holder's lock in its finally
      // — reopening the mutual exclusion it had already lost.
      val holderId = java.util.UUID.randomUUID().toString
      def createLock(): Unit = {
        val out = f.create(lock, false)
        try out.write(holderId.getBytes(UTF_8)) finally out.close()
      }
      def lockIsOurs(): Boolean = try {
        val in = f.open(lock)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        content == holderId
      } catch { case _: java.io.IOException => false }
      var acquired = false
      while (!acquired) {
        try {
          createLock()
          acquired = true
        } catch {
          case e: java.io.IOException =>
            // capture the stale lock's mtime — the IDENTITY of the
            // instance we are allowed to reclaim
            val staleMtime = try {
              val m = f.getFileStatus(lock).getModificationTime
              if (System.currentTimeMillis() - m >= ttl) Some(m) else None
            } catch { case _: java.io.FileNotFoundException => None }
            staleMtime match {
              case Some(m0) =>
                val reclaim = new Path(basePath,
                  s".MAINT_LEASE.reclaim_${java.util.UUID.randomUUID().toString.take(8)}")
                // re-stat IMMEDIATELY before the rename: a fresh lock
                // created in the window since the first stat carries
                // mtime ≈ now, never m0 — so requiring the identical
                // mtime shrinks the stealable window to stat→rename
                // (microseconds) instead of the whole retry iteration
                val stillSame = try {
                  f.getFileStatus(lock).getModificationTime == m0
                } catch { case _: java.io.FileNotFoundException => false }
                val won = stillSame && (try f.rename(lock, reclaim)
                  catch { case _: java.io.IOException => false })
                if (won) {
                  // verify we renamed EXACTLY the instance observed
                  // stale (rename preserves mtime); anything else is a
                  // live writer's fresh lock grabbed in the residual
                  // window — put it back, retrying past any contender
                  // that slipped in (its release frees the path; the
                  // restored lease's owner then resumes heartbeating,
                  // a full recovery)
                  val sameInstance = try {
                    f.getFileStatus(reclaim).getModificationTime == m0
                  } catch { case _: java.io.FileNotFoundException => false }
                  if (sameInstance)
                    try f.delete(reclaim, false) catch { case _: java.io.IOException => () }
                  else {
                    var restored = false
                    while (!restored && System.currentTimeMillis() < deadline) {
                      restored = try f.rename(reclaim, lock)
                        catch { case _: java.io.IOException => false }
                      if (!restored) Thread.sleep(20)
                    }
                    // if never restored, the reclaim file stays as
                    // evidence; prune GCs it once stale
                    if (!restored) throw new java.io.IOException(
                      s"could not restore a mistakenly reclaimed live lease at $lock", e)
                  }
                }
              case None =>
                if (System.currentTimeMillis() > deadline) throw e
                else Thread.sleep(20)
            }
        }
      }
      val beat = new Thread(() => {
        try {
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(math.max(ttl / 4, 1))
            // renew only OUR lock — after a takeover the path holds the
            // new holder's lease and touching it would be interference
            try { if (lockIsOurs()) f.setTimes(lock, System.currentTimeMillis(), -1) }
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: InterruptedException => () }
      }, s"maint-lease-heartbeat-$base")
      beat.setDaemon(true)
      beat.start()
      try body(() => lockIsOurs())
      finally {
        beat.interrupt()
        beat.join(1000)
        try { if (lockIsOurs()) f.delete(lock, false) }
        catch { case _: java.io.IOException => () }
      }
    }

  /** The one index-maintenance shape every store's append/update/
    * delete shares: under the maintenance lease, read the current
    * version (None before the first publish), produce the successor
    * table via `merge`, MATERIALIZE it (the merged plan lazily reads
    * the version this publish supersedes — grace keeps it one cycle,
    * but repeated maintenance in one lineage must not race retention),
    * publish with `write` (defaults to plain parquet; pass a bucketed
    * writer for layout-managed artifacts), and serve the new version.
    * keepVersions = 2 leaves the pre-maintenance table time-travelable.
    */
  def maintain(spark: SparkSession, base: String, keepVersions: Int = 2)(
      merge: Option[DataFrame] => DataFrame)(
      write: (DataFrame, String) => Unit = (df, out) => df.write.parquet(out)): DataFrame =
    withMaintenanceLeaseFenced(spark, base) { stillHolding =>
      val cur = readPointer(spark, base).map(_ => read(spark, base))
      val merged = merge(cur).localCheckpoint()
      // early probe: if the lease was already lost during the merge
      // cycle (a >TTL pause), abort before paying the version write at
      // all; the REAL guarantee is the fence below, which publish
      // re-checks after the write, immediately before the pointer flip
      if (!stillHolding()) throw new java.util.ConcurrentModificationException(
        s"maintenance lease for $base was lost during the merge cycle " +
          "(holder paused past the TTL and reclaimed) — aborting the " +
          "publish; retry the maintenance op")
      publish(spark, base, keepVersions = keepVersions,
        fence = () => stillHolding())(out => write(merged, out))
      read(spark, base)
    }

  /** Erasure-grade retention collapse: delete every complete version
    * at `base` except the one the pointer currently serves, under the
    * same safety discipline as the publish-time prune (pointer re-read
    * at delete time, live intent leases honored, pointer temps left
    * alone — a racing writer is never broken). For right-to-be-
    * forgotten flows the keepVersions time-travel window IS residual
    * data: a store that just deleted the forgotten docs still serves
    * them through readVersion/rollback of the retained prior versions
    * until ordinary maintenance prunes them. This call destroys that
    * window deliberately — [[graft.operators.Forget.forgetDocs]]'s
    * immediatePrune leg runs it so the erasure report can attest zero
    * retained versions. Time travel to prior states is gone by design.
    */
  def pruneToPointer(spark: SparkSession, base: String): Unit =
    readPointer(spark, base).foreach { p =>
      prune(spark, new Path(base), keep = Set(p.version))
    }

  /** Per-process schema catalog for committed version dirs. A version
    * dir is immutable by protocol (publish writes a fresh dir and
    * flips the pointer), so its parquet schema can never change — yet
    * every bare `spark.read.parquet` pays a 1-task schema-inference
    * job before the scan, once per artifact access per query
    * execution (r18 profile: 5 such jobs in r2_hybrid_rrf alone).
    * Schema is catalog metadata, not query results: data is still
    * read from parquet on every scan. Bounded driver state: one
    * StructType per live version dir touched in the process — [[prune]]
    * evicts the entry of every version dir it deletes.
    */
  private val schemaCatalog = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  /** A version dir's [[schemaCatalog]] key: its scheme-less path, so
    * `file:/x/v_1` (a listing) and `/x/v_1` (a pointer) are one entry.
    */
  private def catalogKey(dir: Path): String = dir.toUri.getPath

  /** The cataloged version dirs under `base` (for tests). */
  private[graft] def catalogedVersions(base: String): Set[String] = {
    val b = catalogKey(new Path(base))
    schemaCatalog.keySet.filter(k => new Path(k).getParent.toUri.getPath == b)
      .map(k => new Path(k).getName).toSet
  }

  /** Read a COMMITTED (immutable) version dir with its cached schema,
    * skipping the per-call inference job. Only version dirs may pass
    * through here — never a path whose content can change.
    */
  private def readCommitted(spark: SparkSession, dir: Path): DataFrame = {
    val schema = schemaCatalog.getOrElseUpdate(catalogKey(dir),
      spark.read.parquet(dir.toString).schema)
    spark.read.schema(schema).parquet(dir.toString)
  }

  /** Read the live version (throws if nothing was ever published). */
  def read(spark: SparkSession, base: String): DataFrame =
    resolve(spark, base) match {
      case Some(dir) => readCommitted(spark, dir)
      case None => throw new java.io.FileNotFoundException(
        s"no published version at $base")
    }

  /** Per-process ledger of BUILD-path hits through [[readOrBuild]]:
    * (artifact base name, build seconds), in completion order. Exists
    * because `readOrBuild` serves-or-rebuilds SILENTLY, so a bench run
    * that happened to be artifact-cold was indistinguishable, from the
    * bench artifact alone, from a 10× plan regression (the round-13
    * driver-bench anomaly: 163 s vs 79 s on an identical tree, all of
    * it concentrated in the postings-artifact readers). [[graft.Bench]]
    * snapshots this ledger around every query execution and reports
    * per-query `builds_sec` plus a run-level `total_ex_builds`, making
    * a cold-artifact window attributable from BENCH_LOCAL.json alone.
    * Bounded driver state: one entry per artifact build in the process
    * (a full cold bench builds a few dozen artifacts, each logged once
    * — subsequent reads take the serve path and log nothing).
    */
  private val buildLedger =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]

  /** Snapshot of the build ledger (see [[buildLedger]]); index into it
    * with [[buildCount]] deltas to attribute builds to a window.
    */
  def buildEvents(): Seq[(String, Double)] = {
    val it = buildLedger.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    while (it.hasNext) out += it.next()
    out.toSeq
  }

  /** Number of BUILD-path hits so far this process — cheap monotonic
    * marker for windowed attribution (`buildEvents().drop(before)`).
    */
  def buildCount(): Int = buildLedger.size()

  /** Serve the artifact at `base` if its pointer matches `fingerprint`,
    * else (re)build it via `write` and serve the fresh version — the
    * read-through-cache shape every materialized artifact here uses.
    * Build-path hits are timed and logged to the per-process
    * [[buildEvents]] ledger so callers (Bench) can attribute
    * build-once cost separately from steady-state serving cost.
    */
  def readOrBuild(spark: SparkSession, base: String, fingerprint: String)(
      write: String => Unit): DataFrame = {
    val dir = resolve(spark, base, Some(fingerprint)).getOrElse {
      val t0 = System.nanoTime()
      val built = publish(spark, base, fingerprint)(write)
      buildLedger.add((new Path(base).getName, (System.nanoTime() - t0) / 1e9))
      built
    }
    readCommitted(spark, dir)
  }

  /** The standard corpus-derived-artifact cache: warehouse-dir base
    * named `<name>[_<logic-crc>]_<sf-basename>`, keyed by the
    * fingerprint of `<sfDir>/<srcTable>.parquet`. One definition of
    * the path scheme and keying for every staged artifact (shingle
    * index, pair table, MinHash/SimHash signatures, partitioned
    * layouts), so a change to the scheme lands in one place.
    *
    * `logicKey`: the fingerprint keys on SOURCE data only, so an
    * artifact whose BUILD EXPRESSION can evolve (an analyzer chain, a
    * block size) would silently serve stale content across a code
    * change — the round-11 stemmer fix made this hazard concrete (the
    * cached stemmed index predated the length guard; it happened to be
    * content-identical on this corpus, but nothing enforced that).
    * Passing the logic string (e.g. the analyzer SQL) folds its CRC
    * into the artifact NAME, so a logic change lands in a fresh path
    * and rebuilds automatically; the superseded artifact is orphaned
    * disk, never served. Builders whose logic is part of the contract
    * should pass it.
    */
  def corpusArtifact(spark: SparkSession, sfDir: String, name: String,
      srcTable: String = "documents", logicKey: String = "")(
      write: String => Unit): DataFrame = {
    val tag = if (logicKey.isEmpty) "" else s"_${logicTag(logicKey)}"
    val base = s"${spark.conf.get("spark.sql.warehouse.dir")}/${name}${tag}_${new java.io.File(sfDir).getName}"
    readOrBuild(spark, base, fingerprintOf(spark, s"$sfDir/$srcTable.parquet"))(write)
  }

  /** CRC32 hex of a build-logic string — see [[corpusArtifact]]. */
  def logicTag(logic: String): String = {
    val c = new java.util.zip.CRC32()
    val b = logic.getBytes(UTF_8)
    c.update(b, 0, b.length)
    java.lang.Long.toHexString(c.getValue)
  }
}
