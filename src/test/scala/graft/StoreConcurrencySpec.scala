package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path

import graft.sinks.VersionedStore

/** Concurrent-publisher property test for [[VersionedStore]].
  *
  * The publish contract (VersionedStore.scala: CONCURRENCY CONTRACT)
  * documents last-flip-wins on the pointer plus a belt-and-braces prune
  * guard: prune re-reads the pointer at delete time and unconditionally
  * keeps the version it names, so even a LOSING writer's prune cannot
  * delete the version the winner just pointed LATEST at. Rounds 3-5
  * tested that single-threaded; this spec drives genuinely interleaved
  * publishers from threads over randomized schedules (seeded — rerun
  * reproducible) and asserts the two invariants that matter:
  *
  *  1. liveness under concurrency: a reader polling throughout never
  *     finds the POINTER naming a missing/incomplete version dir
  *     (transiently resolving a just-pruned grace version and re-reading
  *     is fine — that is what the one-publish grace window means — but a
  *     re-read of the pointer must produce a live, complete version);
  *  2. at quiesce: the pointer names a complete version whose data file
  *     matches the version name (no mixed state), and the store holds no
  *     stray pointer temp files.
  */
class StoreConcurrencySpec extends SparkSpec {

  /** A publish whose write is a plain (version-named) data file plus the
    * _SUCCESS marker — small and fast so flips race tightly; the data
    * content doubles as an integrity check that a resolved version is
    * never a mix of two writes.
    */
  private def publishOnce(base: String): Path =
    VersionedStore.publish(spark, base) { out =>
      val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dir = new Path(out)
      fs.mkdirs(dir)
      val data = fs.create(new Path(dir, "part-00000"), true)
      try data.write(dir.getName.getBytes("UTF-8")) finally data.close()
      fs.create(new Path(dir, "_SUCCESS"), true).close()
    }

  private def readDataFile(base: String, version: Path): Option[String] = {
    val fs = version.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(version, "part-00000")
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  test("maintain: eight concurrent maintainers each land their row — no lost update under contention") {
    // the generalized lost-update pin: maintain() serializes the
    // read-modify-write cycle under the lease, so N racing maintainers
    // must ALL have their contribution in the final table — an
    // unserialized interleaving loses every row a superseded reader
    // missed. Eight threads start on a latch to race as tightly as the
    // lease allows.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("graft-maintain-stress") + "/store"
    val latch = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => try {
        latch.await(30, TimeUnit.SECONDS)
        VersionedStore.maintain(spark, base) { cur =>
          val mine = Seq((i.toLong, s"writer-$i")).toDF("id", "who")
          cur.map(_.unionByName(mine)).getOrElse(mine)
        }()
        ()
      } catch { case t: Throwable => failures.add(t); () })
    }
    threads.foreach(_.start())
    latch.countDown()
    threads.foreach(_.join(180000))
    assert(failures.isEmpty, s"maintain failed: ${failures.peek()}")
    val rows = VersionedStore.read(spark, base)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (0L until 8L),
      s"lost update under contention: final ids $rows")
  }

  test("concurrent publishers: the pointed version survives every prune, over randomized interleavings") {
    for (seed <- Seq(11, 42, 97)) {
      val rng = new scala.util.Random(seed)
      val base = tmpDir(s"graft-concurrent-pub-$seed") + "/store"
      publishOnce(base) // a live version before the race starts
      val writers = 3
      val publishesPerWriter = 4
      val schedules = Seq.fill(writers)(
        Seq.fill(publishesPerWriter)(rng.nextInt(30)))
      val start = new CountDownLatch(1)
      val firstFailure = new AtomicReference[Throwable](null)
      def guarded(body: => Unit): Thread = {
        val t = new Thread(() =>
          try { start.await(); body }
          catch { case e: Throwable => firstFailure.compareAndSet(null, e) })
        t.start(); t
      }
      val pubs = schedules.map(delays => guarded {
        delays.foreach { d => Thread.sleep(d.toLong); publishOnce(base) }
      })
      val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = guarded {
        while (!stopReader.get()) {
          // a pruned grace version may vanish between resolving it and
          // reading it — legal under the one-publish grace window. The
          // VIOLATION is a freshly re-resolved pointer repeatedly naming
          // a dead/incomplete/mixed version: bounded re-reads separate
          // the benign straddle from a broken store.
          // spaced attempts: the local FS emulates rename-OVERWRITE as
          // delete-then-rename, so under colliding flips the pointer
          // blinks out for a few ms at a time — back-to-back reads can
          // all land in blink windows without any store invariant broken
          // Deadline-based retries, generous under load: on a busy CI
          // box a GC pause or CPU starvation can stretch a legal blink
          // past any fixed attempt count. A REAL violation (prune
          // deleting the pointed version) does not self-heal without a
          // later flip — it either outlives this deadline or survives to
          // quiesce, where the final asserts catch it.
          val trace = new StringBuilder
          val deadline = System.nanoTime() + 1000L * 1000 * 1000
          var attempt = 0
          var ok = false
          while (!ok && System.nanoTime() < deadline) {
            if (attempt > 0) Thread.sleep(5)
            attempt += 1
            val r = VersionedStore.resolve(spark, base)
            val data = r.flatMap(d => readDataFile(base, d))
            if (trace.length < 4000)
              trace ++= s"[$attempt] resolve=${r.map(_.getName)} data=$data\n"
            ok = r.exists(d => data.contains(d.getName))
          }
          if (!ok) {
            val fsd = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
            val state = fsd.listStatus(new Path(base)).map(_.getPath.getName).sorted.mkString(", ")
            val ptr = VersionedStore.readPointer(spark, base)
            fail(s"pointer persistently dead: pointer=$ptr resolve=${VersionedStore.resolve(spark, base)} entries=[$state]\n$trace")
          }
          Thread.sleep(1)
        }
      }
      start.countDown()
      pubs.foreach(_.join(60000))
      stopReader.set(true)
      reader.join(60000)
      if (firstFailure.get() != null) throw firstFailure.get()

      // quiesced state: pointed version complete, content intact
      val live = VersionedStore.resolve(spark, base)
        .getOrElse(fail("no live version after concurrent publishes"))
      assert(readDataFile(base, live).contains(live.getName),
        s"pointed version ${live.getName} lost or mixed its data")
      // every writer renamed its pointer temp away and released its
      // intent lease — nothing transient survives quiesce
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val strays = fs.listStatus(new Path(base)).map(_.getPath.getName)
        .filter(n => n.startsWith(".LATEST.tmp_") || n.startsWith(".INTENT."))
      assert(strays.isEmpty, s"stray pointer temps: ${strays.mkString(", ")}")
      // bounded residue: every surviving v_ dir is a complete version
      // (prune is best-effort, so count can exceed live+grace under
      // racing keep-sets — but nothing half-written may remain pointed-at
      // or complete-looking without its data)
      fs.listStatus(new Path(base))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
        .foreach { st =>
          assert(VersionedStore.isComplete(fs, st.getPath),
            s"incomplete orphan survived: ${st.getPath.getName}")
        }
    }
  }

  test("maintenance lease: stale locks are reclaimed by rename; a live lease heartbeats fresh") {
    val base = tmpDir("graft-lease")
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(basePath)
    val lock = new Path(basePath, ".MAINT_LEASE")
    // a crashed writer's hour-old lock must not block acquisition —
    // takeover goes through an atomic rename of that specific file, so
    // a racing reclaimer can never delete a FRESH lock by mistake (the
    // delete-then-create hole this replaces)
    fs.create(lock, true).close()
    fs.setTimes(lock, System.currentTimeMillis() - 60L * 60 * 1000, -1)
    var ran = false
    VersionedStore.withMaintenanceLease(spark, base) { ran = true }
    assert(ran, "takeover of a stale lease failed")
    assert(!fs.exists(lock), "lease not released after the body")
    assert(fs.listStatus(basePath).forall(
      !_.getPath.getName.startsWith(".MAINT_LEASE.reclaim")),
      "a reclaim temp file leaked")
    // heartbeat: with a 3 s TTL and a 4.5 s critical section, the
    // holder's lock must keep its mtime fresh throughout — a live
    // writer is never presumed crashed mid-publish. The heartbeat
    // renews every TTL/4, so only a renewal stalled for 2.25 s reads as
    // stale, not a scheduler or GC pause of a loaded test JVM; without
    // the heartbeat the lock goes stale 1.5 s before the body ends.
    val ttl = 3000L
    spark.conf.set("spark.graft.store.intentTtlMs", ttl.toString)
    try {
      val done = new CountDownLatch(1)
      val holder = new Thread(() =>
        VersionedStore.withMaintenanceLease(spark, base) {
          Thread.sleep(ttl * 3 / 2); done.countDown()
        })
      holder.start()
      // wait for the lock to appear, then watch its staleness
      val acquired = System.currentTimeMillis() + 5000
      while (!fs.exists(lock) && System.currentTimeMillis() < acquired)
        Thread.sleep(10)
      assert(fs.exists(lock), "holder never acquired")
      val deadline = System.currentTimeMillis() + 4 * ttl
      var everStale = false
      while (done.getCount > 0 && System.currentTimeMillis() < deadline) {
        try {
          val age = System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime
          if (age >= ttl) everStale = true
        } catch { case _: java.io.FileNotFoundException => () }
        Thread.sleep(50)
      }
      assert(done.await(5, TimeUnit.SECONDS), "holder wedged")
      holder.join(2000)
      assert(!everStale,
        "a live lease went stale mid-cycle — heartbeat not renewing")
    } finally spark.conf.set("spark.graft.store.intentTtlMs", (15L * 60 * 1000).toString)
  }

  test("schema catalog: publish and prune cycles keep only the live versions cataloged") {
    val base = tmpDir("graft-catalog") + "/store"
    def cataloged = VersionedStore.catalogedVersions(base)
    for (k <- 1 to 5) {
      VersionedStore.publish(spark, base)(out => spark.range(k).write.parquet(out))
      assert(VersionedStore.read(spark, base).count() == k)
      // keepVersions = 1: the new version plus its one-publish grace
      assert(cataloged == VersionedStore.listVersions(spark, base).toSet,
        s"cycle $k: cataloged $cataloged, live ${VersionedStore.listVersions(spark, base)}")
    }
    VersionedStore.pruneToPointer(spark, base)
    assert(cataloged == VersionedStore.listVersions(spark, base).toSet && cataloged.size == 1,
      s"after pruneToPointer: cataloged $cataloged")
  }

  test("maintenance lease: a taken-over holder neither renews nor deletes the successor's lock") {
    // the pause-past-TTL scenario: a holder that loses its lease to a
    // reclaimer must not, on resume, touch the path — the lock now
    // belongs to someone else. The lock carries the holder's UUID and
    // both the heartbeat and the release delete verify ownership.
    val base = tmpDir("graft-lease-steal")
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(basePath)
    val lock = new Path(basePath, ".MAINT_LEASE")
    spark.conf.set("spark.graft.store.intentTtlMs", "600")
    try {
      val done = new CountDownLatch(1)
      val holder = new Thread(() =>
        VersionedStore.withMaintenanceLease(spark, base) {
          Thread.sleep(1200); done.countDown()
        })
      holder.start()
      // wait until the holder's createLock has COMPLETED — the file
      // exists from create() but its UUID content lands at close(), and
      // a takeover staged mid-create breaks the in-flight write and
      // sends the holder into a retry loop against the successor's
      // fresh lock (a staging artifact: production takeovers require
      // TTL staleness, which a mid-create lock never has)
      def lockLen(): Long =
        try fs.getFileStatus(lock).getLen catch { case _: java.io.IOException => -1L }
      val deadline = System.currentTimeMillis() + 5000
      while (lockLen() < 36 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(lockLen() >= 36, "holder never finished acquiring")
      // simulate a takeover: the lock is replaced by a successor's
      // (different UUID content) while the original holder still runs
      fs.delete(lock, false)
      val out = fs.create(lock, true)
      try out.write("successor-holder".getBytes("UTF-8")) finally out.close()
      val m0 = fs.getFileStatus(lock).getModificationTime
      assert(done.await(5, TimeUnit.SECONDS), "holder wedged")
      holder.join(2000)
      assert(fs.exists(lock),
        "the resumed original holder deleted the successor's lock")
      assert(fs.getFileStatus(lock).getModificationTime == m0,
        "the original holder's heartbeat renewed the successor's lock")
      val in = fs.open(lock)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      assert(content == "successor-holder")
      fs.delete(lock, false)
    } finally spark.conf.set("spark.graft.store.intentTtlMs", (15L * 60 * 1000).toString)
  }

  test("publish fence: a failed fence aborts after the write, before the pointer flip") {
    import spark.implicits._
    val base = tmpDir("graft-fence") + "/store"
    VersionedStore.publish(spark, base)(out =>
      Seq(1).toDF("x").coalesce(1).write.parquet(out))
    val before = VersionedStore.readPointer(spark, base).get.version
    var wrote = false
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.publish(spark, base, fence = () => false) { out =>
        Seq(2).toDF("x").coalesce(1).write.parquet(out); wrote = true
      }
    }
    assert(wrote, "the fence must be checked AFTER the data write")
    assert(VersionedStore.readPointer(spark, base).get.version == before,
      "a fenced-out publish flipped the pointer anyway")
    assert(VersionedStore.read(spark, base).collect().map(_.getInt(0)).toSeq == Seq(1),
      "served content changed despite the aborted publish")
    // the fenced-out dir must NOT survive as a complete version: its
    // _SUCCESS would make it indistinguishable from a committed version,
    // letting a later retention pass keep the never-served merge as a
    // time-travel target (and a rollback then serve the exact lost-
    // update state the fence exists to prevent)
    assert(VersionedStore.listVersions(spark, base) == Seq(before),
      "the fenced-out write survived as a listable complete version")
  }

  test("maintain: a lease lost DURING the version write aborts before the flip") {
    // the paused-past-TTL double-writer scenario at its worst point —
    // the takeover lands while the (potentially minutes-long) version
    // write is running, AFTER the early post-merge probe passed. The
    // publish-time fence must catch it and leave the pointer (and the
    // served table) untouched.
    import spark.implicits._
    val base = tmpDir("graft-fence-maint") + "/store"
    VersionedStore.maintain(spark, base)(_ => Seq(1).toDF("x"))()
    val before = VersionedStore.readPointer(spark, base).get.version
    val lock = new Path(base, ".MAINT_LEASE")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.maintain(spark, base)(_ => Seq(2).toDF("x")) { (df, out) =>
        // simulate the takeover landing mid-write: the lock now carries
        // a successor's identity, exactly what a TTL reclaim leaves
        fs.delete(lock, false)
        val o = fs.create(lock, true)
        try o.write("successor-holder".getBytes("UTF-8")) finally o.close()
        df.coalesce(1).write.parquet(out)
      }
    }
    assert(VersionedStore.readPointer(spark, base).get.version == before,
      "a maintain that lost its lease mid-write flipped the pointer anyway")
    assert(VersionedStore.read(spark, base).collect().map(_.getInt(0)).toSeq == Seq(1),
      "served content changed despite the lost lease")
    fs.delete(lock, false) // clear the simulated successor's lock
  }

  test("batch fold maintenance racing streaming postings ingest: neither write lost") {
    // the round-9 untested seam: the lease serializes BATCH maintenance
    // and the checkpoint epoch guard serializes STREAMING owners, but a
    // batch fold running DURING ingest crossed both domains unpinned.
    // the fold runs under the lease (fold-vs-fold serialization);
    // fold-vs-ingest safety is structural (a fold snapshot either sees
    // a new delta or leaves it for next time, and never touches the
    // newest delta). Drive both concurrently and require the final
    // store to serve EXACTLY the one-shot batch build — any lost delta
    // or double-folded row diverges.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, expr}
    import graft.operators.Retrieval
    import graft.streaming.{StoreSink, StreamPostings}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val store = tmpDir("graft-foldrace") + "/store"
    val cp = tmpDir("graft-foldrace-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamPostings.start(in.toDF().toDF("doc_id", "text"), store, cp)
    val stop = new CountDownLatch(1)
    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val folder = new Thread(() => {
      while (stop.getCount > 0) {
        folds.addAndGet(StoreSink.fold(spark, Seq(StreamPostings.store(store))))
        Thread.sleep(20)
      }
    })
    folder.start()
    try docs.grouped((docs.size + 7) / 8).foreach { g =>
      in.addData(g: _*); q.processAllAvailable()
    } finally { stop.countDown(); folder.join(10000) }
    q.stop()
    StoreSink.fold(spark, Seq(StreamPostings.store(store)))
    assert(folds.get() > 0, "the racing folder never folded — race untested")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf", "dl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batchBuilt = Retrieval.rawPostings(
      graft.sources.Tables.documents(spark, d).select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks")))
    assert(norm(StreamPostings.served(spark, store).drop("df")) == norm(batchBuilt),
      "store diverged from the one-shot build after racing folds")
  }

  test("dedup screen read survives a fold's post-commit input delete: retry re-lists, never re-admits") {
    // the ADVICE-flagged half of the fold-vs-ingest seam: unlike the
    // write-only postings ingest, the dedup ingest READS the store
    // every batch, and a fold's post-commit delete can invalidate that
    // lazily resolved snapshot mid-action. Stage the race
    // deterministically: resolve a screen over the pre-fold deltas,
    // fold (commit + delete inputs) underneath it, then require (a)
    // the stale snapshot indeed fails with a missing-file error —
    // the race is real, not hypothetical — and (b) the retrying screen
    // converges on the fold's superset listing with ZERO re-admissions.
    import org.apache.spark.sql.functions.col
    import graft.streaming.{StoreSink, StreamDedup}
    import spark.implicits._
    val store = tmpDir("graft-dedup-foldrace") + "/store"
    // three committed deltas, distinct hashes
    for (b <- 0 to 2)
      (0 until 20).map(i => (s"h_${b}_$i", b * 100L + i)).toDF("h", "doc_id")
        .coalesce(1).write.parquet(s"$store/delta_b$b")
    // a batch-3 screen: half previously seen hashes, half new
    val batch = ((0 until 10).map(i => (s"h_1_$i", 900L + i)) ++
      (0 until 10).map(i => (s"h_new_$i", 950L + i))).toDF("h", "doc_id")
    // resolve the snapshot BEFORE the fold; the fold then removes its
    // input deltas after committing the covering fold dir
    val stale = StreamDedup.storeBefore(spark, store, boundExclusive = 3L)
    assert(StoreSink.fold(spark, Seq(StreamDedup.store(store))) > 0, "fold did not run")
    val staleFailed =
      try { stale.count(); false }
      catch { case e: Throwable => StreamDedup.isMissingFileError(e) }
    assert(staleFailed, "staging failed: the stale snapshot did not trip " +
      "a missing-file error — the race this test exists for was not exercised")
    // the ingest's shape: retry re-lists and screens against the fold
    val survived = StreamDedup.withStoreRetry {
      val seen = StreamDedup.storeBefore(spark, store, boundExclusive = 3L)
      batch.join(seen.select("h").distinct(), Seq("h"), "left_anti")
        .select("h").collect().map(_.getString(0)).toSet
    }
    assert(survived == (0 until 10).map(i => s"h_new_$i").toSet,
      s"retried screen re-admitted seen hashes or lost new ones: $survived")
  }

  test("StreamPrep fold: four lease groups folded concurrently commit the sequential fold's parts, and a replayed fold batch rewrites every family") {
    import org.apache.hadoop.fs.FileUtil
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextOps
    import graft.streaming.{StoreSink, StreamPrep}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val benchTokens = corpus.head._2.split(" ").take(40).toSeq
    // batch k: 8 corpus docs, an exact and a near copy of the previous
    // batch's first doc, and a doc that carries the bench item
    def batch(k: Int): Seq[(Long, String)] = {
      val own = corpus.slice(1 + 8 * k, 9 + 8 * k)
      val prev = corpus(1 + 8 * math.max(k - 1, 0))._2
      own ++ Seq((1000L + 10 * k) -> prev, (1001L + 10 * k) -> s"$prev extra words",
        (1002L + 10 * k) -> (benchTokens ++ corpus(400 + k)._2.split(" ")).mkString(" "))
    }
    val bw = TextOps.d7bBenchWindows(Seq((1L, benchTokens)).toDF("bench_id", "bws"))
      .localCheckpoint()
    val store = tmpDir("graft-prepfold") + "/store"
    val cp = tmpDir("graft-prepfold-cp")
    val in = MemoryStream[(Long, String)]
    def ingest(foldEvery: Int, batches: Seq[Int]): Unit = {
      val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw, store, cp,
        foldEvery = foldEvery)
      try {
        batches.foreach { k => in.addData(batch(k): _*); q.processAllAvailable() }
        q.processAllAvailable() // a restart with no new batch replays an uncommitted one
      } finally q.stop()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(store).getFileSystem(conf)
    // every committed part of every family: its path under the store and
    // its rows
    def parts(root: String): Map[String, Seq[String]] =
      Seq("", "/exact", "/sigs", "/decontam").flatMap { sub =>
        fs.listStatus(new Path(root + sub)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.matches(".*(_b|fold_0_)\\d+"))
          .map(st => s"$sub/${st.getPath.getName}" ->
            spark.read.parquet(st.getPath.toString).collect().map(_.toString).sorted.toSeq)
      }.toMap

    ingest(foldEvery = 0, 0 until 4) // four parts per family, none folded
    val sequential = tmpDir("graft-prepfold-seq") + "/store"
    assert(FileUtil.copy(fs, new Path(store), fs, new Path(sequential), false, conf))
    // the reference: the five folds one after another, each a one-family
    // store under its own acquisition of its store's lease
    val oneFamily = StreamPrep.stores(sequential)
      .flatMap(s => s.families.map(StoreSink.Store(s.dir, _)))
    assert(oneFamily.size == 5)
    val sequentialFolded = oneFamily.map(s => StoreSink.fold(spark, Seq(s))).sum
    assert(sequentialFolded == 5 * 3, "each family folds its three older parts")
    assert(StoreSink.fold(spark, StreamPrep.stores(store)) == sequentialFolded)
    val folded = parts(store)
    assert(folded == parts(sequential), "the concurrent fold committed other parts or rows")
    val folds = folded.filter(_._1.contains("fold_0_2"))
    assert(folds.size == 5 && folds.values.forall(_.nonEmpty), s"fold parts: ${folds.keys}")
    assert(Seq("", "/exact", "/sigs", "/decontam").forall(sub =>
      !fs.exists(new Path(s"$store$sub/.MAINT_LEASE"))), "a lease outlived the fold")

    // batch 5 folds in the trigger (foldEvery = 3); forget that it
    // committed, and its replay rewrites the same parts
    ingest(foldEvery = 3, 4 to 5)
    val before = parts(store)
    assert(before.keySet.count(_.endsWith("fold_0_4")) == 5, s"parts: ${before.keySet}")
    val commit = new Path(s"$cp/prep/commits/5")
    assert(fs.delete(commit, false), s"no commit file $commit")
    ingest(foldEvery = 3, Seq.empty)
    assert(fs.exists(commit), "the restart did not replay batch 5")
    assert(parts(store) == before, "the replayed fold batch changed a family")
  }

  test("an empty _QUERY_ID counts as no marker: a restart with parts at or below its batch resumes, a fresh checkpoint under parts above its batch is refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val store = tmpDir("graft-emptymarker") + "/store"
    val cp = tmpDir("graft-emptymarker-cp")
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(store, "_QUERY_ID")
    def owner(): String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // a marker writer that crashed between its create and its write
    def emptyMarker(): Unit = fs.create(marker, true).close()
    def kept: Set[Long] = StreamDedup.keptIds(spark, store).collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, String)]
    val q = StreamDedup.start(in.toDF().toDF("doc_id", "text"), store, cp)
    try Seq(1L -> "a", 2L -> "b").foreach { d => in.addData(d); q.processAllAvailable() }
    finally q.stop()
    val qid = owner()
    assert(qid.nonEmpty)

    // resume: batch 1 replays (its commit is gone) with parts at b0 and b1
    emptyMarker()
    assert(fs.delete(new Path(s"$cp/dedup/commits/1"), false))
    val q2 = StreamDedup.start(in.toDF().toDF("doc_id", "text"), store, cp)
    try {
      q2.processAllAvailable()
      in.addData(3L -> "a", 4L -> "c"); q2.processAllAvailable()
    } finally q2.stop()
    assert(fs.exists(new Path(s"$cp/dedup/commits/2")), "the owning checkpoint did not resume")
    assert(owner() == qid, "the resumed run did not restore its marker")
    assert(kept == Set(1L, 2L, 4L), s"after resume: $kept")

    // refuse: a fresh checkpoint starts at batch 0 under parts up to b2
    emptyMarker()
    def b0Rows = spark.read.parquet(s"$store/delta_b0").collect().map(_.toString).sorted.toSeq
    val before = b0Rows
    val fresh = MemoryStream[(Long, String)]
    val q3 = StreamDedup.start(fresh.toDF().toDF("doc_id", "text"), store,
      tmpDir("graft-emptymarker-cp2"))
    fresh.addData(5L -> "d")
    val ex = intercept[StreamingQueryException](q3.processAllAvailable())
    q3.stop()
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .exists(c => Option(c.getMessage).exists(_.contains("no ownership marker"))),
      s"a fresh checkpoint under an empty marker was not refused: $ex")
    assert(b0Rows == before, "the refused run changed delta_b0")
  }

  test("a fold beside an ingest whose screen lists its inputs deletes them only after the ingest: the parts of the fold run alone, no retry, no lease left") {
    import java.util.concurrent.CountDownLatch
    import org.apache.hadoop.fs.FileUtil
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextOps
    import graft.streaming.{StoreSink, StreamDedup, StreamNearDup, StreamPrep}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val benchTokens = corpus.head._2.split(" ").take(40).toSeq
    // batch k: 8 corpus docs, a copy of the previous batch's first doc
    // and a doc that carries the bench item
    def batch(k: Int): Seq[(Long, String)] = corpus.slice(1 + 8 * k, 9 + 8 * k) ++ Seq(
      (1000L + 10 * k) -> corpus(1 + 8 * math.max(k - 1, 0))._2,
      (1001L + 10 * k) -> (benchTokens ++ corpus(400 + k)._2.split(" ")).mkString(" "))
    val bw = TextOps.d7bBenchWindows(Seq((1L, benchTokens)).toDF("bench_id", "bws"))
      .localCheckpoint()
    val store = tmpDir("graft-foldbeside") + "/store"
    val in = MemoryStream[(Long, String)]
    val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw, store,
      tmpDir("graft-foldbeside-cp"))
    try (0 until 4).foreach { k => in.addData(batch(k): _*); q.processAllAvailable() }
    finally q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(store).getFileSystem(conf)
    val subs = Seq("", "/exact", "/sigs", "/decontam")
    def parts(root: String): Map[String, Seq[String]] = subs.flatMap { sub =>
      fs.listStatus(new Path(root + sub)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches(".*(_b|fold_0_)\\d+"))
        .map(st => s"$sub/${st.getPath.getName}" ->
          spark.read.parquet(st.getPath.toString).collect().map(_.toString).sorted.toSeq)
    }.toMap

    // batch 4's screen over a store: it lists the parts below batch 4
    val template = StreamPrep.screenTemplate(spark,
      TextOps.d7bBenchWithTotals(bw).localCheckpoint(), 0.5)
    def screen(root: String): DataFrame = template.bind(batch(4).toDF("doc_id", "text"),
      StreamDedup.storeBefore(spark, s"$root/exact", boundExclusive = 4),
      StreamNearDup.sigStore(spark, s"$root/sigs", boundExclusive = 4))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

    // the reference: the same fold, run alone on a copy of the store
    val alone = tmpDir("graft-foldbeside-alone") + "/store"
    assert(FileUtil.copy(fs, new Path(store), fs, new Path(alone), false, conf))
    val aloneRows = rows(screen(alone))
    assert(StoreSink.fold(spark, StreamPrep.stores(alone),
      StoreSink.FoldAt(Some(4L), new CountDownLatch(0))) == 5 * 4,
      "each family folds its four parts below batch 4")

    // foldEvery = 5: batch 4 folds beside its ingest, through the step
    // every `StoreSink.start` batch runs once its stores are claimed.
    // Batch 4's ingest lists the parts, waits until the fold has
    // committed all five fold dirs and for up to 1.5 s more, and only
    // then reads what it listed
    val folds = Seq("/exact/fold_0_3", "/sigs/fold_0_3", "/sigs/matches_fold_0_3",
      "/decontam/verdicts_fold_0_3", "/manifest_fold_0_3").map(p => new Path(store + p, "_SUCCESS"))
    val input = new Path(s"$store/exact/delta_b0")
    def await(cond: => Boolean, ms: Long): Boolean = {
      val deadline = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
      cond
    }
    val seen = new AtomicReference[Seq[String]]
    var inputsHeld = true
    val retries = StreamDedup.storeReadRetries
    StoreSink.step(spark, StreamPrep.stores(store), foldEvery = 5, batchId = 4) {
      StreamDedup.withStoreRetry {
        val listed = screen(store)
        assert(await(folds.forall(fs.exists), 60000), "the fold did not commit")
        inputsHeld &&= !await(!fs.exists(input), 1500)
        seen.set(rows(listed))
      }
    }

    assert(inputsHeld, "the fold deleted an input its ingest had listed before the ingest returned")
    assert(StreamDedup.storeReadRetries == retries,
      s"${StreamDedup.storeReadRetries - retries} store-read retries")
    assert(seen.get == aloneRows, "the ingest screened other rows beside the fold")
    assert(parts(store) == parts(alone), "the fold beside the ingest committed other parts or rows")
    assert(!fs.exists(input), "the fold's inputs outlived the batch")
    assert(subs.forall(sub => !fs.exists(new Path(s"$store$sub/.MAINT_LEASE"))),
      "a lease outlived the fold")
  }
}
