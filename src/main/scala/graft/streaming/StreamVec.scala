package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import graft.operators.VectorOps

/** Streaming ANN index ingest — the vector store's full streaming twin
  * (round 12's StreamIndex plus the reissue/tombstone/drift discipline
  * the text-side stores already carry):
  *
  *  - each micro-batch of `(vec_id, embedding)` rows PQ-encodes against
  *    the FROZEN codebook (v7's encoder verbatim — map-only over
  *    centroid literals, no shuffle of embeddings) and lands as a
  *    batchId-keyed `delta_b<id>` dir. Encoding is a pure deterministic
  *    function of (vector, codebook), so a vector can never be
  *    double-inserted.
  *  - a vec_id REISSUED in a later batch (re-embedded doc, upstream
  *    reprocessing) serves only its NEWEST batch's code row: every
  *    delta row carries its batch id `b` and [[codes]] keeps each
  *    vec_id's max-b row (StreamPostings' last-writer-wins, verbatim).
  *    Without it, distinct() alone would serve BOTH code rows — the
  *    stale vector occupying a top-k slot forever.
  *  - a row arriving with a NULL embedding is a TOMBSTONE (delete
  *    request): it lands as a `del = true` row that wins the max-b
  *    filter and is then dropped from serving — the streaming form of
  *    `VectorOps.deleteCodes`, and the reason max-b needs an explicit
  *    marker rather than absence (absence would leave the old batch's
  *    row max-b, exactly StreamPostings' empty-tokenizing-reissue
  *    hole).
  *  - v16's codebook-drift gate runs IN the trigger: each batch's mean
  *    integer squared residual is compared against the pinned training
  *    baseline, and the verdict (n_vecs, mean_err, drift_ppm, retrain
  *    at v16's 1.5× threshold) lands as a `drift_b<id>` sidecar row,
  *    plus a stderr warning when it fires. Drift flags
  *    LOUDLY instead of letting recall decay silently; data still
  *    lands (retraining invalidates every stored code, so the retrain
  *    decision is the operator's, not the ingest's). Sidecars are
  *    invisible to [[codes]] and to the fold machinery (neither
  *    matches the `drift_` prefix); [[driftLog]] reads them.
  *
  * Store contract: [[StoreSink]]. The `b`/`del` columns ride through
  * folds, so last-writer-wins survives compaction, and fold overlap
  * keeps max-b intact.
  *
  * Codebook discipline at 100 TB: the codebook is trained once and
  * FROZEN for the life of the store (pass the same `books` and
  * `baselineMeanErr` to every run); retraining is a rebuild of a fresh
  * store dir, never an in-place append. Reference analogue: the
  * continuous ingest loop (weather_streaming.py:148-216), which the
  * text side already mirrors.
  */
object StreamVec {

  /** storeDir → the ingest query [[start]] launched against it — the
    * in-process half of the rotation/ingest exclusion. [[rotate]]
    * refuses while the registered query is active (a live trigger
    * would keep appending OLD-codebook codes to a store whose serving
    * snapshot just cut over); across JVMs the drain-first contract is
    * documented on [[rotate]] and the maintenance lease still excludes
    * rotate from any concurrent FOLD. Entries are tiny (one per store
    * this JVM ever ingested into) and a stopped query's entry is inert.
    */
  private val activeIngests =
    new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()

  /** Test seam: drop a store's registry entry, simulating a [[rotate]]
    * issued from a DIFFERENT JVM than the one running the ingest (the
    * registry is process-local state — another JVM starts with it
    * empty, which is exactly what the heartbeat gate below covers).
    */
  private[graft] def forgetIngest(storeDir: String): Unit = {
    activeIngests.remove(storeDir); ()
  }

  /** Ingest-liveness marker, the CROSS-JVM half of the rotation/ingest
    * exclusion: a [[org.apache.spark.sql.streaming.StreamingQueryListener]]
    * registered by [[start]] overwrites this file under `storeDir` on
    * EVERY lifecycle event of the ingest query — started, each
    * completed batch, AND the periodic idle event (`onQueryIdle`, fired
    * every `spark.sql.streaming.noDataProgressEventInterval` even when
    * no data arrives) — so a [[rotate]] issued from a JVM that cannot
    * see the query (the [[activeIngests]] registry is process-local)
    * still refuses while the marker is fresh. Idle coverage closes the
    * round-14/15 residual: triggers only fire on data, so a
    * trigger-touched marker went stale under an idle-but-RUNNING remote
    * ingest and a rotate then proceeded against it; the idle event
    * fires regardless of data. A bare file, never a `_SUCCESS`'d
    * directory — invisible to [[StoreSink.parts]], to the fold
    * machinery, and to every reader.
    *
    * Content: `<runId> <writerEpochMs> <tag>` — the writing run's id
    * (so a rotate can tell "the stopped query I watched" from "some
    * other JVM's live run", see [[rotate]]) and the INGEST's own
    * wall-clock (so staleness compares two application clocks, never
    * the store filesystem's mtime — an object store's server clock is
    * the one clock nobody administers; two app JVMs are NTP-bounded,
    * and the assumed bound is documented on [[HeartbeatStaleMs]]).
    */
  val HeartbeatFile = "_ingest_heartbeat"

  /** Staleness bound for [[HeartbeatFile]]: a heartbeat older than this
    * counts as drain evidence. Generous against any sane trigger or
    * idle-event cadence while keeping the worst-case wait bounded.
    * Clock model: age = rotator's clock − the timestamp the INGEST
    * wrote, so the bound assumes app-JVM clock skew ≪ this window
    * (NTP's seconds-scale skew against a 10-minute window); the store
    * filesystem's clock never participates.
    */
  val HeartbeatStaleMs: Long = 10 * 60 * 1000L

  private def heartbeatPath(storeDir: String) = new Path(storeDir, HeartbeatFile)

  private[graft] def touchHeartbeat(spark: SparkSession, storeDir: String,
      runId: String, tag: String): Unit = {
    val p = heartbeatPath(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true) // overwrite: latest event wins
    try out.write(s"$runId ${System.currentTimeMillis()} $tag\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The heartbeat's writer run id (None for a pre-runId legacy marker)
    * and its age in ms against the WRITER's embedded wall-clock
    * (legacy markers fall back to file mtime). Outer None when no
    * ingest has ever touched the store (pre-heartbeat stores rotate
    * under the registry + drain-first contract alone, unchanged).
    * Negative skew (writer clock ahead of ours) clamps to 0 — i.e.
    * fresh, the refusing direction.
    */
  private[graft] def readHeartbeat(spark: SparkSession,
      storeDir: String): Option[(Option[String], Long)] = {
    val p = heartbeatPath(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // the live ingest overwrites the marker in place (create +
      // truncate — local FSs expose the zero-length window to a
      // concurrent open; object-store PUTs don't), so a torn/empty
      // read here means "a writer is touching it RIGHT NOW", i.e.
      // maximally alive — retry briefly for the settled content, and
      // only call a persistently well-formed-but-id-less marker legacy
      var attempt = 0
      while (attempt < 20) {
        val content =
          try {
            val in = fs.open(p)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: java.io.IOException => "" }
        // a valid read must be the COMPLETE line the writer emits —
        // terminated newline and all three tokens. A torn read is
        // always a PREFIX of the full write, and a digit-PREFIX tear
        // of the timestamp ("uuid 17868" cut mid-token) would parse as
        // an ancient epoch and report the store drained while a writer
        // is touching it RIGHT NOW — the unsafe direction. Requiring
        // the trailing newline (the write's last byte) rejects every
        // proper prefix.
        val complete = content.endsWith("\n")
        content.trim.split("\\s+") match {
          case Array(rid, ts, _, _*) if complete && ts.nonEmpty && ts.forall(_.isDigit) =>
            return Some((Some(rid), math.max(0L, System.currentTimeMillis() - ts.toLong)))
          case Array(single, _*) if single.nonEmpty && attempt >= 19 =>
            // settled single-token content: a pre-runId legacy marker —
            // fall back to the file's mtime for its age
            return Some((None,
              System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime))
          case _ => () // torn overwrite: retry
        }
        attempt += 1
        Thread.sleep(50)
      }
      // 1s of unreadable content with the file present: fall back to
      // the file's MTIME for age (the legacy branch's clock). A live
      // rewriter keeps mtime fresh (still refuses), but a writer that
      // died between create-truncate and write leaves an empty marker
      // whose mtime freezes — so the staleness window CAN elapse and
      // rotate eventually proceeds. (Age 0 here would pin the marker
      // "fresh" forever, making the "retry after the staleness window"
      // advice in rotate's refusal unsatisfiable.)
      try Some((None, math.max(0L,
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)))
      catch { case _: java.io.IOException => None } // vanished mid-probe: no marker left
    }
  }

  /** v16's retrain threshold: batch mean residual ≥ 1.5× baseline. */
  val RetrainPpm = 1500000L

  private def codesSchema: StructType = StructType(
    (StructField("vec_id", LongType) +:
      (0 until VectorOps.PqM).map(m => StructField(s"c$m", LongType))) ++
      Seq(StructField("b", LongType), StructField("del", BooleanType)))

  /** The index the store currently serves: all COMPLETE (_SUCCESS)
    * delta and fold dirs, replay overlap collapsed by distinct(), each
    * vec_id served from its NEWEST batch only (max-b last-writer
    * filter), tombstoned vec_ids dropped. Empty-but-typed before the
    * first commit. Plugs into `adcSearch`/`ivfServe` as their `codes0`.
    */
  def codes(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct is load-bearing: the fold crash contract is "overlap,
    // never loss" — the same deterministic row can sit in two dirs,
    // and a duplicated vec_id would occupy two top-k slots.
    StoreSink.read(spark, storeDir, StoreSink.Delta, codesSchema).distinct()
      .withColumn("bmax", max("b").over(Window.partitionBy("vec_id")))
      .filter(col("b") === col("bmax"))
      .filter(!col("del"))
      .drop("bmax", "b", "del")
  }

  /** Last-writer-aware compaction: StreamDedup's fold machinery with a
    * SHRINK step that keeps only each vec_id's max-b row among the
    * fold's inputs — physically dropping superseded reissue rows and,
    * for tombstoned ids, the CODE rows themselves (the erasure path:
    * send a NULL-embedding tombstone through the stream — the id stops
    * serving at that trigger — then compact; the encoded data is
    * physically gone once the tombstone's delta becomes foldable, i.e.
    * after one more batch commits). The tombstone row itself SURVIVES
    * compaction deliberately: the crash contract is "overlap, never
    * loss" — a fold whose input delete crashed can leave an old code
    * row in a leftover dir, and the committed fold's tombstone must
    * still beat it at read time (the Kafka-compaction key-tombstone
    * model; only the payload is erased, the key lingers). Plain
    * `StreamDedup.foldDeltas` remains valid for this store — it just
    * reclaims no superseded rows.
    */
  def foldCodes(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldDeltasWith(spark, storeDir) { df =>
      import org.apache.spark.sql.expressions.Window
      df.withColumn("__bmax", max("b").over(Window.partitionBy("vec_id")))
        .filter(col("b") === col("__bmax"))
        .drop("__bmax")
    } +
      // the drift sidecars are the store's other per-batch family —
      // compact them in the same maintenance pass (one dir per batch
      // forever otherwise); rows carry b, so the fold's distinct can
      // only collapse replay/crash overlap
      StreamDedup.foldSidecars(spark, storeDir, "drift")

  // ---------------------------------------------------------------
  // Codebook rotation — closing the drift loop. The gate above FLAGS;
  // [[rotate]] acts: train a fresh codebook on a sample of the store's
  // live vectors, re-encode the survivors, and publish the rotated
  // (codebook, code table) snapshot as the NEXT version of a
  // VersionedStore serving base — one atomic pointer flip cuts query
  // serving over, the prior version stays readable for time-travel,
  // and `VersionedStore.rollback` undoes the cutover. The streaming
  // store dir itself is untouched (ingest under the OLD codebook can
  // drain/stop on the operator's schedule); after rotation a NEW
  // stream+store is started against the new codebook.
  //
  // The codebook rides IN the published version dir as an
  // underscore-prefixed sidecar (`_books` — Spark's file index skips
  // `_`/`.`-prefixed paths, so the code-table read never sees it).
  // That makes the (codebook, codes) pair ATOMIC under the single
  // pointer flip: two separate stores would need two flips, and a
  // reader between them would score codes against the wrong codebook —
  // top-k garbage with no error raised.
  // ---------------------------------------------------------------

  /** Codebook → (m, k, p, v) rows; [[decodeBooks]] inverts. */
  private def booksDf(spark: SparkSession,
      books: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cents, m) =>
      cents.zipWithIndex.flatMap { case (cent, k) =>
        cent.zipWithIndex.map { case (v, p) => (m, k, p, v) }
      }
    }.toSeq.toDF("m", "k", "p", "v")
  }

  private def decodeBooks(rows: Array[org.apache.spark.sql.Row]): Array[Array[Array[Long]]] = {
    val byKey = rows.map(r =>
      ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    val ms = byKey.keys.map(_._1).max + 1
    val ks = byKey.keys.map(_._2).max + 1
    val ps = byKey.keys.map(_._3).max + 1
    Array.tabulate(ms, ks) { (m, k) => (0 until ps).map(p => byKey((m, k, p))).toArray }
  }

  /** Publish one (codebook, code table) snapshot as the next version
    * at `serveBase` — the serving cutover primitive. Deployments call
    * this once at store creation (so the PRE-rotation state is a
    * rollback target) and [[rotate]] calls it for the rotated state.
    * `keepVersions = 2` retains the superseded snapshot for
    * `VersionedStore.readVersion`/`rollback`.
    */
  def publishServing(spark: SparkSession, serveBase: String,
      books: Array[Array[Array[Long]]], codeTable: DataFrame,
      tag: String): String = {
    val dir = graft.sinks.VersionedStore.publish(
      spark, serveBase, fingerprint = tag, keepVersions = 2) { out =>
      codeTable.write.parquet(out)
      booksDf(spark, books).coalesce(1).write.parquet(s"$out/_books")
    }
    dir.getName
  }

  /** The code table the serving base currently points at. */
  def servedCodes(spark: SparkSession, serveBase: String): DataFrame =
    graft.sinks.VersionedStore.read(spark, serveBase)

  /** The codebook paired with [[servedCodes]] — same version dir, so
    * the pair is consistent under any interleaving with a cutover.
    */
  def servedBooks(spark: SparkSession, serveBase: String): Array[Array[Array[Long]]] = {
    val dir = graft.sinks.VersionedStore.resolve(spark, serveBase).getOrElse(
      throw new java.io.FileNotFoundException(s"no published version at $serveBase"))
    decodeBooks(spark.read.parquet(s"$dir/_books").collect())
  }

  /** Rotate the codebook of a drifted store: train fresh PQ codebooks
    * (v7's per-subspace Lloyd, `VectorOps.pqTrain`) on a deterministic
    * sample of the store's LIVE vectors, re-encode every surviving
    * embedding map-only, and publish the rotated (codebook, codes)
    * snapshot at `serveBase` (see [[publishServing]]). Returns the new
    * codebooks (the frozen input for the post-rotation ingest stream).
    *
    * Refuses to run unless the store's drift log actually says retrain
    * (`force` overrides — e.g. a scheduled rotation policy): rotation
    * invalidates every stored code, so an accidental invocation on a
    * healthy store is expensive and should be loud.
    *
    * `emb` is the system of record for vectors `(vec_id, embedding)` —
    * the store holds codes, not embeddings, so re-encoding needs the
    * source (same contract as a FAISS rebuild). Scale shape: the
    * sample is hash-ordered top-`sampleCap` (TakeOrderedAndProject —
    * per-partition top-k, no full sort shuffle) re-keyed to dense
    * train ids (a ≤`sampleCap`-row single-partition window — bounded
    * by construction); training state is the usual 512 driver longs;
    * the re-encode is one map-only pass over live embeddings.
    */
  def rotate(spark: SparkSession, storeDir: String, emb: DataFrame,
      serveBase: String, sampleCap: Int = 4096,
      force: Boolean = false): Array[Array[Array[Long]]] = {
    import org.apache.spark.sql.expressions.Window
    // ROTATION/INGEST EXCLUSION, loud (verdict-14 ask #2): a trigger
    // racing the rotation would keep encoding with the OLD codebook
    // into a store whose serving snapshot is about to cut over — data
    // that the post-rotation stream (new store, new codebook) never
    // sees. In-process the registry refuses outright; cross-JVM the
    // drain-first contract is the documented operator step, and the
    // maintenance lease below still serializes rotate against folds.
    val registered = Option(activeIngests.get(storeDir))
    val running = registered.filter(_.isActive)
    require(running.isEmpty,
      s"store $storeDir has a RUNNING ingest query ${running.map(_.id).orNull} — " +
        "stop/drain the stream before rotating (rotation freezes the live " +
        "set and re-encodes it; a concurrent trigger would append " +
        "old-codebook codes invisible to the rotated serving snapshot)")
    // CROSS-JVM half: the heartbeat file is the only liveness evidence
    // for an ingest THIS process can't see. A registered-but-stopped
    // query is authoritative drain evidence ONLY for heartbeats it
    // wrote itself (we watched that run stop — the same-JVM stop →
    // rotate path never waits out the staleness window); a heartbeat
    // carrying any OTHER run id is a different, possibly live, ingest
    // — a stale local registry entry must never shadow it (the
    // round-15 ADVICE race: an old stopped entry for this store would
    // otherwise skip the check entirely). Legacy markers without a run
    // id can't be vouched for by anyone, so they take the staleness
    // window too.
    for ((writerRunId, age) <- readHeartbeat(spark, storeDir)) {
      val vouched = registered.exists(q => writerRunId.contains(q.runId.toString))
      if (!vouched)
        require(age >= HeartbeatStaleMs,
          s"store $storeDir ingest heartbeat (run ${writerRunId.getOrElse("?")}) " +
            s"is ${age}ms old (< ${HeartbeatStaleMs}ms) — an ingest in another " +
            "JVM looks live; stop/drain it, then retry after the staleness window")
    }
    val flagged = driftLog(spark, storeDir)
      .filter(col("retrain")).agg(max("b")).first()
    require(force || !flagged.isNullAt(0),
      s"drift log at $storeDir has no retrain verdict — rotation would " +
        "discard a healthy codebook (pass force = true for a scheduled " +
        "rotation policy)")
    // under the store's maintenance lease: a concurrent fold's
    // post-commit input delete could otherwise race the live-set read
    // (withStoreRetry absorbs that for READS, but rotate's read feeds a
    // multi-pass train — re-listing mid-train would train on a torn
    // view); the lease's heartbeat keeps it alive for the train's
    // duration, and fold callers queue behind it
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      val live = codes(spark, storeDir).select("vec_id")
      val liveEmb = emb.join(live, Seq("vec_id"), "left_semi")
        .select("vec_id", "embedding")
      val sample = liveEmb
        .withColumn("__h", xxhash64(col("vec_id")))
        .orderBy("__h").limit(sampleCap)
        .withColumn("__tid",
          row_number().over(Window.orderBy(col("__h"), col("vec_id"))) - 1)
        .select(col("__tid").cast("long").as("vec_id"), col("embedding"))
        .localCheckpoint() // freeze: pqTrain makes several passes
      require(sample.count() >= VectorOps.PqK,
        s"fewer than ${VectorOps.PqK} live vectors — nothing to train on")
      val books = VectorOps.pqTrain(spark, sample)
      graft.functions.NativeFunctions.register(spark)
      val rotated = VectorOps.encodeCodes(liveEmb, books)
      val hi = if (flagged.isNullAt(0)) -1L else flagged.getLong(0)
      publishServing(spark, serveBase, books, rotated, tag = s"rotated_b$hi")
      books
    }
  }

  /** The drift gate's audit trail: one row per micro-batch
    * (b, n_vecs, mean_err, drift_ppm, retrain). The operational signal
    * a frozen-codebook deployment watches — v16's audit, continuous.
    */
  def driftLog(spark: SparkSession, storeDir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("b", LongType), StructField("n_vecs", LongType),
      StructField("mean_err", LongType), StructField("drift_ppm", LongType),
      StructField("retrain", BooleanType)))
    StoreSink.read(spark, storeDir, StoreSink.sidecar("drift"), schema)
      .distinct().orderBy("b")
  }

  /** Start the ingest over a `(vec_id, embedding)` source (NULL
    * embedding ⇒ tombstone). `baselineMeanErr` is the pinned training
    * residual (`VectorOps.meanSqErr` over the codebook's training
    * corpus) the per-batch drift gate compares against. The STORE is
    * the output — readers serve via [[codes]].
    *
    * INTRA-BATCH ORDERING CONTRACT: rows inside one micro-batch are a
    * SET — the source's arrival order does not survive the shuffle into
    * foreachBatch, so a tombstone and a live re-insert of the same
    * vec_id landing in ONE trigger have no defined "later" event. The
    * in-batch winner rule below resolves the tie delete-wins (the only
    * replay-stable choice that also matches the cross-batch rule, where
    * a tombstone is always the later intent): a delete+reinsert pair in
    * one trigger serves as DELETED until the vector is re-sent in a
    * later batch. Sources that need delete-then-reinsert semantics must
    * emit the two events in separate triggers (the Kafka-compaction
    * model, where the re-insert is a later offset and lands in a later
    * batch); emitting both in one trigger is out of contract.
    */
  def start(vecs: DataFrame, books: Array[Array[Array[Long]]],
      storeDir: String, checkpointDir: String, baselineMeanErr: Long,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery = {
    val q = StoreSink.start(vecs, s"$checkpointDir/index", Seq(storeDir), trigger,
      foldEvery, foldCodes(_, storeDir)) { (spark, batch, batchId) =>
      graft.functions.NativeFunctions.register(spark)
      // one encode pass feeds both the delta and the drift verdict;
      // persist so the two actions don't re-run the argmin
      val ups = VectorOps.encodeCodesWithErr(
        batch.filter(col("embedding").isNotNull), books).persist()
      try {
        val live = ups.drop("sq_err")
          .withColumn("b", StoreSink.batchIdCol(batchId)).withColumn("del", lit(false))
        val tombs = batch.filter(col("embedding").isNull)
          .select(col("vec_id") +:
            (0 until VectorOps.PqM).map(m => lit(0L).as(s"c$m")): _*)
          .withColumn("b", StoreSink.batchIdCol(batchId)).withColumn("del", lit(true))
        // IN-BATCH winner: a vec_id arriving twice in one micro-batch
        // (re-embedded twice between triggers, or a write racing its
        // own delete) shares one b, so the read-time max-b filter
        // alone would serve BOTH rows — a duplicated id in two top-k
        // slots. Resolve here, deterministically on replay: a
        // tombstone beats any live row (delete-wins, matching the
        // cross-batch rule where the tombstone is always the later
        // intent), and live duplicates order by their code columns
        // (codes are a pure function of the embedding, so the
        // ordering is replay-stable; distinct code rows tie only if
        // the rows are byte-identical, where the pick is immaterial).
        import org.apache.spark.sql.expressions.Window
        val inBatchOrder = col("del").desc +:
          (0 until VectorOps.PqM).map(m => col(s"c$m").desc)
        live.unionByName(tombs)
          .withColumn("__rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(inBatchOrder: _*)))
          .filter(col("__rn") === 1).drop("__rn")
          .write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")

        // v16's gate, per batch: deterministic (integer sums, one
        // IEEE divide+round — v16's exact ppm arithmetic), so the
        // sidecar is replay-idempotent like the delta itself.
        val st = ups.agg(sum("sq_err").cast("long").as("s"),
          count(lit(1)).as("n")).first()
        val (n, meanErr) =
          if (st.getLong(1) == 0L) (0L, 0L)
          else (st.getLong(1), st.getLong(0) / st.getLong(1))
        val ppm = math.round(
          1000000.0 * meanErr.toDouble / math.max(baselineMeanErr, 1L).toDouble)
        val retrain = n > 0 && ppm >= RetrainPpm
        import spark.implicits._
        Seq((batchId, n, meanErr, ppm, retrain))
          .toDF("b", "n_vecs", "mean_err", "drift_ppm", "retrain")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/drift_b$batchId")
        if (retrain) Console.err.println(
          s"[StreamVec] CODEBOOK DRIFT at batch $batchId: mean residual " +
            s"$meanErr is ${ppm}ppm of baseline $baselineMeanErr " +
            s"(threshold $RetrainPpm) — stored codes for this cohort " +
            "carry degraded recall; schedule a codebook retrain/rebuild")
        // (the liveness heartbeat is written by the lifecycle
        // listener below — onQueryProgress fires after this trigger
        // COMMITS, so a heartbeat still never outruns its data, and
        // onQueryIdle keeps it fresh when no data arrives at all)
      } finally { ups.unpersist(); () }
    }
    // Liveness heartbeat, written from the query's LIFECYCLE events
    // rather than the data path: started (liveness before the first
    // commit), every completed batch (progress — post-commit, so the
    // marker never outruns its data), and the periodic idle event
    // (fires every spark.sql.streaming.noDataProgressEventInterval
    // with NO data — the event the data-path touch could never see,
    // closing the idle-but-running-remote-ingest gap). The listener is
    // scoped to this run by runId and unregisters itself on
    // termination, so a store's marker always names the run that wrote
    // it. Event delivery is async (listener bus), so the marker is
    // eventually-fresh — within the bus's millisecond latency, far
    // inside HeartbeatStaleMs.
    val sess = vecs.sparkSession
    val rid = q.runId.toString
    val hbListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.runId.toString == rid) touchHeartbeat(sess, storeDir, rid, "started")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.runId.toString == rid)
          touchHeartbeat(sess, storeDir, rid, s"b${e.progress.batchId}")
      override def onQueryIdle(e: QueryIdleEvent): Unit =
        if (e.runId.toString == rid) touchHeartbeat(sess, storeDir, rid, "idle")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId.toString == rid) sess.streams.removeListener(this)
    }
    sess.streams.addListener(hbListener)
    // if the query died between start() and addListener (immediate
    // startup failure), its QueryTerminatedEvent already fired and the
    // self-unregister above will never run — remove the listener now,
    // or repeated failing start()s would accumulate leaked listeners
    // on the session's shared bus
    if (!q.isActive) sess.streams.removeListener(hbListener)
    // the started event fired before addListener could see it — seed
    // the marker directly so liveness holds from this moment, not from
    // the first batch/idle event. (The seed lands before the first
    // trigger's ownership check can refuse a foreign store — a
    // misdirected start() against someone else's store dir freshens
    // that store's marker once and can delay its legitimate rotate by
    // one staleness window; the ownership refusal then kills the query
    // and the marker ages out. Advisory-liveness semantics accept that
    // trade for pre-first-batch coverage.)
    touchHeartbeat(sess, storeDir, rid, "started")
    // registry last: it must only ever hold queries that actually
    // launched (see [[activeIngests]]; latest-wins on restart — the
    // stopped predecessor's entry is replaced, so [[rotate]]'s probe
    // always sees the CURRENT ingest's liveness)
    activeIngests.put(storeDir, q)
    q
  }
}
