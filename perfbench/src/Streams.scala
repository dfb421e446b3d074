package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{PerfbenchAccess, StreamPrep}

/** The `stream_prep` workload: open loop at a fixed offered rate.
  *
  * The generator runs on the benchmark's main thread. Every [[TickMs]]
  * it hands the rows due in that tick to an in-memory source, whose
  * offset then names the tick, so a micro-batch's end offset says which
  * ticks it holds. A row's latency runs from its tick's scheduled send
  * time to the commit of the micro-batch holding it (progress
  * `timestamp` + `triggerExecution`). Generator lateness is reported,
  * not hidden. The trigger is Spark's default (next batch as soon as the
  * last ends).
  *
  * Set-up starts with the JVM and ends after the pipeline has been
  * prepared, started on warm-up dirs, run for two micro-batches and
  * stopped. The timed run then starts it again on fresh dirs, times
  * closed-loop bursts (the capacity) and then runs the open-loop window.
  */
object Streams {
  val TickMs = 250
  /** Offered rate, fixed. A micro-batch is mostly fixed overhead (about
    * 90 Spark jobs), so back-to-back batches each take the docs that
    * arrived during the last one, and a batch lasts longer the more docs
    * it holds; at higher rates every slowdown of the host is amplified
    * into longer batches and latency.
    */
  val PrepRowsPerS = 20
  /** Capacity is timed over [[Bursts]] bursts of [[BurstTicks]] ticks'
    * rows each: two consecutive micro-batches hold exactly one fold
    * batch (the stores fold every second batch).
    */
  val BurstTicks = 20
  val Bursts = 2
  /** The stores fold every this many batches. */
  val FoldEvery = 2

  /** One committed micro-batch of one query. */
  final case class Batch(query: String, batchId: Long, endOffset: Long,
      start: Double, end: Double, rows: Long, durations: Map[String, Double])

  /** Collects finished micro-batches from every streaming query. */
  final class Progress(spark: SparkSession) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    spark.streams.addListener(this)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      if (d.contains("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches.add(Batch(p.id.toString, p.batchId,
          p.sources.headOption.map(_.endOffset.trim.toLong).getOrElse(-1L),
          start, start + d.getOrElse("triggerExecution", 0.0), p.numInputRows, d))
      }
    }
    def of(ids: Set[String]): Seq[Batch] =
      batches.asScala.toSeq.filter(b => ids(b.query)).sortBy(b => (b.query, b.batchId))
  }

  /** A started pipeline: its in-memory source, its query, its dirs. */
  final case class Running[A](src: MemoryStream[A], query: StreamingQuery, dir: String) {
    def add(rows: Seq[A]): Unit = src.addData(rows)
  }

  /** Shared measurement: set-up, the open-loop timed run, the
    * end-to-end metrics, and (traced) the streaming per-layer numbers.
    * `start(dir)` starts the pipeline on fresh dirs under `dir`;
    * `rows(r, k)` are the rows of tick k of the warm-up (r = 1) or the
    * timed run (r = 0). Returns the timed pipeline (drained and stopped),
    * every row the timed run sent, and its micro-batches, for the
    * caller's correctness check and store metrics.
    */
  private def measure[A](spark: SparkSession, a: Main.Args, tr: Tracer, out: Result,
      rate: Int, start: String => Running[A], rows: (Int, Int) => Seq[A],
      warmupTicks: Int): (Running[A], Seq[A], Seq[Batch]) = {
    val root = tr.newId()
    val w0 = tr.now()
    tr.span(spark, "setup", "set-up", root) { _ =>
      val run = start(s"${a.runDir}/warmup")
      // two micro-batches, so both the ingest and the fold path run
      val half = warmupTicks / 2
      Seq(0 until half, half until warmupTicks).foreach { ks =>
        ks.foreach(k => run.add(rows(1, k)))
        run.query.processAllAvailable()
      }
      run.query.stop()
    }
    val setupS = Main.sinceJvmStart()
    val progress = new Progress(spark)
    val run = start(s"${a.runDir}/timed")
    val ids = Set(run.query.id.toString)
    val nTicks = math.max(1, (a.seconds * 1000 / TickMs).toInt)
    // the timed run's rows: the capacity bursts, then the window's ticks
    val bursts = (0 until Bursts).map(i =>
      (i * BurstTicks until (i + 1) * BurstTicks).flatMap(rows(0, _)))
    val ticks = (0 until nTicks).map(k => rows(0, Bursts * BurstTicks + k))

    // capacity: each burst sent at once to the idle, warm pipeline and
    // waited for until committed (closed loop). Burst i sits
    // at source offset i, window tick k at Bursts + k.
    val b0 = System.nanoTime()
    bursts.foreach { b =>
      run.add(b)
      run.query.processAllAvailable()
    }
    val burstS = (System.nanoTime() - b0) / 1e9
    val sent = mutable.ArrayBuffer.empty[A]
    bursts.foreach(sent ++= _)

    val due = new Array[Double](nTicks)
    val perTick = new Array[Int](nTicks)
    val lagMs = new Array[Double](nTicks)
    val t0 = tr.now()
    for (k <- 0 until nTicks) {
      due(k) = t0 + k.toDouble * TickMs
      val wait = due(k) - tr.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val batch = ticks(k)
      lagMs(k) = math.max(0.0, tr.now() - due(k))
      run.add(batch)
      sent ++= batch
      perTick(k) = batch.size
    }
    val windowEnd = t0 + nTicks.toDouble * TickMs
    val wait = windowEnd - tr.now()
    if (wait > 0) Thread.sleep(wait.toLong)
    val d0 = System.nanoTime()
    run.query.processAllAvailable()
    val drainS = (System.nanoTime() - d0) / 1e9
    run.query.stop()
    tr.drain(spark)
    val batches = progress.of(ids).filter(_.endOffset >= Bursts)

    // tick k is committed by the first batch whose end offset >= Bursts + k
    val tickLat = (0 until nTicks).map { k =>
      batches.find(_.endOffset >= Bursts + k).map(_.end).getOrElse(Double.NaN) - due(k)
    }
    val rowLat = tickLat.zip(perTick).flatMap { case (l, n) => Seq.fill(n)(l) }
    val committedInWindow = (0 until nTicks).filter(k => tickLat(k) + due(k) <= windowEnd)
      .map(perTick).sum
    val rss = Main.peakRssMb()

    out.metrics("setup_s") = setupS
    out.metrics("latency_p50_ms") = Main.percentile(rowLat, 0.5)
    out.metrics("latency_p90_ms") = Main.percentile(rowLat, 0.9)
    out.metrics("throughput_per_s") = bursts.map(_.size).sum / burstS
    out.metrics("peak_rss_mb") = rss
    out.metrics("disk_mb") = Main.diskMb(run.dir)
    out.notes("offered_rows") = perTick.sum
    out.notes("burst_rows") = bursts.map(_.size).sum
    out.notes("offered_rows_per_s") = rate
    out.notes("batches") = batches.size
    out.notes("drain_s") = drainS
    out.attempted += sent.size

    if (tr.on) {
      val L = out.layers
      L("source.generator_lag_ms") = lagMs.max
      L("source.backlog_rows") = perTick.sum - committedInWindow
      def dsum(k: String) = batches.map(_.durations.getOrElse(k, 0.0)).sum
      L("streaming.trigger_ms") = dsum("triggerExecution")
      L("streaming.add_batch_ms") = dsum("addBatch")
      L("streaming.query_planning_ms") = dsum("queryPlanning")
      L("streaming.wal_commit_ms") = dsum("walCommit")
      L("streaming.commit_offsets_ms") = dsum("commitOffsets")
      L("streaming.latest_offset_ms") = dsum("latestOffset")
      L("streaming.batches") = batches.size
      L("streaming.rows_per_batch") = batches.map(_.rows).sum.toDouble / batches.size
      val sjobs = tr.jobs.asScala.toSeq.filter(j => ids(j.streamQuery))
      L("streaming.jobs_per_batch") = sjobs.size.toDouble / batches.size

      // workload > micro-batch > progress phase (in execution order) > job > stage
      val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      val phaseIds = mutable.Map.empty[(String, Long, String), Long]
      batches.foreach { b =>
        val bid = tr.newId()
        tr.add(Span(bid, root, "microbatch", s"${b.query.take(8)} batch ${b.batchId}",
          b.start, b.end, Map("rows" -> b.rows.toDouble)))
        var t = b.start
        phaseOrder.foreach { ph =>
          b.durations.get(ph).foreach { ms =>
            val pid = tr.newId()
            tr.add(Span(pid, bid, "phase", ph, t, t + ms))
            phaseIds((b.query, b.batchId, ph)) = pid
            t += ms
          }
        }
      }
      tr.jobStageSpans(j => phaseIds.getOrElse((j.streamQuery, j.streamBatch, "addBatch"),
        if (j.span != 0) j.span else root)).foreach(tr.add)
      val all = tr.allSpans
      val byId = all.map(s => s.id -> s).toMap
      def timed(s: Span): Boolean = s.kind == "microbatch" ||
        (s.parent != 0 && byId.get(s.parent).exists(timed))
      val self = Tracer.selfMsByKind(all.filter(timed))
      Seq("microbatch", "phase", "job", "stage").foreach { k =>
        L(s"self.${k}_ms") = self.getOrElse(k, 0.0)
      }
    }
    tr.add(Span(root, 0, "workload", a.workload, w0, tr.now()))
    (run, sent.toSeq, batches)
  }

  // ---- stream_prep --------------------------------------------------

  val Stages = Seq("quality", "exact", "neardup", "contaminated", "kept")

  /** Seeded `(doc_id, text)` documents with planted exits. Ids rise with
    * arrival. Shares: 10% low quality (digits and punctuation), 10%
    * byte-identical copies of an earlier kept doc, 10% near copies (an
    * earlier kept doc plus two words), 5% contaminated (20 tokens of a
    * bench item, which no other doc shares, plus a unique 30-token tail),
    * and the rest kept: 30 stopword-rich tokens over a doc-unique stem,
    * so no two kept docs share a word 3-shingle.
    */
  final class PrepGen(seed: Long, firstId: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private var next = firstId
    private val kept = mutable.ArrayBuffer.empty[String]
    val planted = mutable.LinkedHashMap.empty[Long, String]
    private def stem(): String = Seq.fill(8)(('c' + rng.nextInt(24)).toChar).mkString
    private def good(p: String) = (1 to 10).map(i => s"the $p$i of").mkString(" ")
    def docs(count: Int): Seq[(Long, String)] = Seq.fill(count) {
      val id = next; next += 1
      val u = rng.nextInt(100)
      val (stage, text) =
        if (u < 10) "quality" -> s"zzz qqq ${100000 + rng.nextInt(900000)} !!!"
        else if (u < 20 && kept.nonEmpty) "exact" -> kept(rng.nextInt(kept.size))
        else if (u < 30 && kept.nonEmpty)
          "neardup" -> s"${kept(rng.nextInt(kept.size))} extra ${stem()}"
        else if (u < 35)
          "contaminated" -> (PrepGen.bench(id).split(" ").take(20).mkString(" ") + " " + good(stem()))
        else { val t = good(stem()); kept += t; "kept" -> t }
      planted(id) = stage
      (id, text)
    }
  }
  object PrepGen {
    /** Bench item for a contaminated doc id: a stem built from the id in
      * base 26 behind a 'b', a letter no random stem starts with.
      */
    def bench(id: Long): String = {
      val p = "b" + java.lang.Long.toString(id, 26).map(c =>
        if (c.isDigit) ('a' + (c - '0')).toChar else ('k' + (c - 'a')).toChar)
      (1 to 10).map(i => s"the $p$i of").mkString(" ")
    }
  }

  def prep(spark: SparkSession, a: Main.Args, tr: Tracer, out: Result): Unit = {
    import spark.implicits._
    implicit val sqlc = spark.sqlContext
    val perTick = PrepRowsPerS * TickMs / 1000
    val warmupTicks = 4
    val nTicks = math.max(1, (a.seconds * 1000 / TickMs).toInt)
    // the timed run's docs (ids from 0) and the warm-up's (ids from 2^32)
    val gens = (0 to 1).map(r => new PrepGen(a.seed * 31 + r, r.toLong << 32))
    val docs = gens.zipWithIndex.map { case (g, r) =>
      (0 until (if (r == 0) Bursts * BurstTicks + nTicks else warmupTicks)).map(_ => g.docs(perTick))
    }
    val benchIds = gens.flatMap(_.planted.collect { case (id, "contaminated") => id })
    val bench = PerfbenchAccess.benchWindows(
      benchIds.map(i => (i, PrepGen.bench(i).split(" ").toSeq)).toDF("bench_id", "bws"))
      .localCheckpoint()
    def start(dir: String): Running[(Long, String)] = {
      val src = MemoryStream[(Long, String)]
      val q = StreamPrep.start(src.toDF().toDF("doc_id", "text"), bench, s"$dir/store",
        s"$dir/checkpoint", foldEvery = FoldEvery)
      Running(src, q, dir)
    }
    val (run, sent, batches) = measure[(Long, String)](spark, a, tr, out, PrepRowsPerS,
      start, (r, k) => docs(r)(k), warmupTicks)
    val store = s"${run.dir}/store"

    // exactly one manifest row per sent doc, at the stage planted for it
    val expected = gens(0).planted
    val got = StreamPrep.manifest(spark, store).select("doc_id", "stage")
      .as[(Long, String)].collect()
    val gotBy = got.groupBy(_._1)
    val bad = expected.count { case (id, st) =>
      gotBy.get(id).forall(rs => rs.length != 1 || rs.head._2 != st)
    } + gotBy.keySet.count(id => !expected.contains(id))
    out.failed += bad
    if (bad > 0) out.errors += s"manifest disagrees with the planted stage for $bad docs"
    if (tr.on) {
      val counts = got.groupBy(_._2).map { case (k, v) => k -> v.length }
      Stages.foreach(s => out.layers(s"prep.stage_rows.$s") = counts.getOrElse(s, 0).toDouble)
      Stages.foreach(s => out.notes(s"planted.$s") = expected.values.count(_ == s))
      val (fold, ingest) = batches.partition(b => PerfbenchAccess.foldDue(FoldEvery, b.batchId))
      out.layers("store.ingest_batch_ms") = ingest.map(_.durations.getOrElse("addBatch", 0.0)).sum
      out.layers("store.fold_batch_ms") = fold.map(_.durations.getOrElse("addBatch", 0.0)).sum
      out.layers("store.dirs") = Main.dirsUnder(new File(store)).size - 1
      out.layers("store.mb") = Main.diskMb(store)
    }
  }
}
