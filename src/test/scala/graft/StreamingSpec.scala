package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Sessionize, WeatherPipeline}

/** Streaming semantics (SURVEY.md §2.10): enrichment parity through a
  * real StreamingQuery, exactly-once checkpoint resume on the file sink,
  * watermarked windowed aggregation, and custom sessionization state.
  * All tests are deterministic: `processAllAvailable`, never wall-clock.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val goldenJson = Fixtures.goldenJson

  private def alertJson(temp: Double) =
    s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
       |"humidité":"50","feels_like":"0","city_name":"X","local_time":"t",
       |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
       |"timestamp":"1761661906","longitude":"0"}""".stripMargin.replace("\n", "")

  test("metrics listeners capture streaming progress and batch actions") {
    implicit val sc = spark.sqlContext
    graft.observe.Metrics.register(spark) // idempotent with Sessions.local
    graft.observe.Metrics.reset()
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("memory").queryName("metrics_probe").outputMode("append")
      .start()
    in.addData(goldenJson, alertJson(45.0), alertJson(2.0))
    q.processAllAvailable()
    q.stop()
    // listener events are delivered async on the listener bus — poll
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def probeRows = graft.observe.Metrics.streamSnapshot
      .filter(_.queryName == "metrics_probe").map(_.numInputRows).sum
    while (probeRows < 3 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(probeRows == 3, s"expected 3 input rows across batches, saw $probeRows")
    assert(graft.observe.Metrics.streamSnapshot
      .filter(_.queryName == "metrics_probe").forall(_.triggerDurationMs >= 0))
    // batch side: any action on the session lands a BatchRun record
    // (fresh deadline — the streaming poll may have consumed the first)
    spark.range(0, 10).count()
    val deadline2 = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (graft.observe.Metrics.batchSnapshot.isEmpty &&
      System.nanoTime() < deadline2) Thread.sleep(50)
    val runs = graft.observe.Metrics.batchSnapshot
    assert(runs.nonEmpty && runs.forall(r => !r.failed && r.durationMs >= 0))
  }

  test("prometheus exposition renders the ring buffers and serves /metrics") {
    implicit val sc = spark.sqlContext
    graft.observe.Metrics.register(spark)
    graft.observe.Metrics.reset()
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("memory").queryName("prom_probe").outputMode("append")
      .start()
    in.addData(goldenJson, alertJson(45.0))
    q.processAllAvailable()
    q.stop()
    spark.range(0, 5).count() // one batch action
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def ready = graft.observe.Metrics.streamSnapshot.exists(p =>
      p.queryName == "prom_probe" && p.numInputRows > 0) &&
      graft.observe.Metrics.batchSnapshot.nonEmpty
    while (!ready && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ready)
    val text = graft.observe.Prometheus.render()
    // exposition format: HELP/TYPE per family, the stream query as a
    // label, counters carrying the observed totals
    assert(text.contains("# TYPE graft_stream_input_rows_total counter"))
    assert(text.contains("""graft_stream_input_rows_total{query="prom_probe"} 2"""))
    assert(text.contains("""graft_stream_batches_total{query="prom_probe"}"""))
    assert(text.contains("# TYPE graft_batch_actions_total counter"))
    assert(text.contains("graft_batch_failures_total 0"))
    // JVM-wide codegen compile counter: this JVM compiled the stream above
    val compiles = "(?m)^graft_codegen_compiles_total (\\d+)$".r
      .findFirstMatchIn(text).map(_.group(1).toLong)
    assert(compiles.exists(_ > 0), s"no codegen compile count in:\n$text")
    assert("(?m)^graft_store_read_retries_total \\d+$".r.findFirstIn(text).nonEmpty,
      s"no store-read retry count in:\n$text")
    // every non-comment line parses as `name{labels} value`
    text.linesIterator.filterNot(l => l.startsWith("#") || l.isEmpty).foreach { l =>
      assert(l.matches("""[a-z_]+(\{[^}]*\})? (-?[0-9.E+-]+|NaN)"""), s"bad line: $l")
    }
    // label escaping: quote/backslash/newline cannot corrupt the format
    assert(graft.observe.Prometheus.escapeLabel("a\"b\\c\nd") == "a\\\"b\\\\c\\nd")
    // HTTP surface: GET /metrics returns 200 + the same body
    val server = graft.observe.Prometheus.serve(port = 0)
    try {
      val port = server.getAddress.getPort
      val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      val body = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      assert(body.contains("""graft_stream_input_rows_total{query="prom_probe"} 2"""))
    } finally server.stop(0)
    // textfile-collector surface: atomic write lands the same content
    val f = tmpDir("graft-prom") + "/graft.prom"
    graft.observe.Prometheus.writeTextfile(f)
    val onDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    assert(onDisk.contains("graft_stream_batches_total"))
  }

  test("kafka option surface rejects typos and malformed values in CI") {
    val opts = WeatherPipeline.kafkaOptions("broker:9092", "weather-events")
    // exactly the Kafka-source contract keys, no misspellings
    assert(opts.keySet == Set("kafka.bootstrap.servers", "subscribe", "startingOffsets"))
    assert(opts("subscribe") == "weather-events" && opts("startingOffsets") == "latest")
    assert(WeatherPipeline.kafkaOptions("b:9092", "t",
      """{"t":{"0":-2}}""")("startingOffsets").startsWith("{"))
    intercept[IllegalArgumentException](WeatherPipeline.kafkaOptions("", "topic"))
    intercept[IllegalArgumentException](WeatherPipeline.kafkaOptions("b:9092", " "))
    intercept[IllegalArgumentException](WeatherPipeline.kafkaOptions("b:9092", "a,,b"))
    intercept[IllegalArgumentException](
      WeatherPipeline.kafkaOptions("b:9092", "t", "newest")) // typo'd offset mode
    // rate control rides along only when requested, and must be sane
    assert(WeatherPipeline.kafkaOptions("b:9092", "t",
      maxOffsetsPerTrigger = Some(50000L))("maxOffsetsPerTrigger") == "50000")
    intercept[IllegalArgumentException](WeatherPipeline.kafkaOptions(
      "b:9092", "t", maxOffsetsPerTrigger = Some(0L)))
  }

  test("kafkaSource().load() resolves the streaming relation with validated options") {
    // the connector jar is absent in this sandbox; FakeKafkaProvider
    // registers the same `kafka` short name on the TEST classpath, so
    // .load() goes through real ServiceLoader source resolution
    val df = WeatherPipeline.kafkaSource(spark, "broker:9092", "weather-events")
    assert(df.isStreaming)
    assert(df.schema == FakeKafkaProvider.kafkaSchema) // connector contract
    val opts = FakeKafkaProvider.lastOptions
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "weather-events")
    assert(opts("startingoffsets") == "latest")
    // rate control (ST8) survives the trip through the reader too
    val withRate = spark.readStream.format("kafka")
      .options(WeatherPipeline.kafkaOptions("b:9092", "t",
        startingOffsets = "earliest", maxOffsetsPerTrigger = Some(500L)))
      .load()
    assert(withRate.isStreaming)
    assert(FakeKafkaProvider.lastOptions("maxoffsetspertrigger") == "500")
    assert(FakeKafkaProvider.lastOptions("startingoffsets") == "earliest")
    // the enrich DAG composes on the kafka frame (binary value) and the
    // query lifecycle runs end to end — zero batches, clean stop
    val q = WeatherPipeline.enriched(df)
      .writeStream.format("memory").queryName("kafka_probe").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("kafka_probe").count() == 0)
  }

  test("streaming pipeline enriches the golden record through a memory sink") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("memory").queryName("golden_out").outputMode("append")
      .start()
    in.addData(goldenJson)
    q.processAllAvailable()
    val row = spark.table("golden_out").first()
    assert(row.getAs[Int]("dew_point") == 17)
    assert(row.getAs[String]("weather_category") == "Cloudy")
    assert(row.getAs[String]("alert_type") == "NORMAL")
    q.stop()
  }

  test("malformed JSON yields an all-null row (PERMISSIVE), not a failure") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("memory").queryName("perm_out").outputMode("append")
      .start()
    in.addData("{not json at all", goldenJson)
    q.processAllAvailable()
    val rows = spark.table("perm_out").collect()
    assert(rows.length == 2) // malformed row kept, as nulls
    assert(rows.count(_.getAs[String]("city_name") == null) == 1)
    assert(rows.count(_.getAs[String]("alert_type") == "NORMAL") == 2) // null flags fall through to NORMAL
    q.stop()
  }

  test("raw passthrough archival (K1 shape): bytes written unchanged") {
    implicit val sc = spark.sqlContext
    val out = tmpDir("graft-raw-out")
    val cp = tmpDir("graft-raw-cp")
    val in = MemoryStream[String]
    val q = in.toDF().writeStream.format("text")
      .option("path", s"$out/raw")
      .option("checkpointLocation", s"$cp/raw")
      .outputMode("append").start()
    in.addData(goldenJson, "{not json at all")
    q.processAllAvailable()
    q.stop()
    val back = spark.read.text(s"$out/raw").collect().map(_.getString(0)).toSet
    assert(back == Set(goldenJson, "{not json at all")) // archival never parses
  }

  test("file sink + checkpoint: exactly-once across query restart") {
    implicit val sc = spark.sqlContext
    val out = tmpDir("graft-stream-out")
    val cp = tmpDir("graft-stream-cp")
    val in = MemoryStream[String]
    def startQuery() = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("parquet")
      .option("path", s"$out/enriched")
      .option("checkpointLocation", s"$cp/enriched")
      .outputMode("append").start()

    val q1 = startQuery()
    in.addData(goldenJson, alertJson(45.0))
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery() // resume from checkpoint
    in.addData(alertJson(20.0))
    q2.processAllAvailable()
    q2.stop()
    val result = spark.read.parquet(s"$out/enriched")
    assert(result.count() == 3) // no dupes, no loss
    assert(result.filter(col("alert_type") === "EXTREME_TEMPERATURE").count() == 1)
  }

  test("3-sink fan-out writes enriched store and filtered alerts") {
    implicit val sc = spark.sqlContext
    val out = tmpDir("graft-fan-out")
    val cp = tmpDir("graft-fan-cp")
    val in = MemoryStream[String]
    val qs = WeatherPipeline.start(in.toDF(), out, cp, Trigger.ProcessingTime(0))
    in.addData(goldenJson, alertJson(45.0), alertJson(20.0))
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    assert(spark.read.parquet(s"$out/weather_enriched").count() == 3)
    val alerts = spark.read.parquet(s"$out/weather_alerts")
    assert(alerts.count() == 1) // only the 45° record alerts
    assert(alerts.select("alert_type").first().getString(0) == "EXTREME_TEMPERATURE")
  }

  test("streaming incremental dedup: store-backed screen across batches, restarts, and folds") {
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sdedup-store") + "/store"
    val cp = tmpDir("graft-sdedup-cp")
    val in = MemoryStream[(Long, String)]
    def docsDf = in.toDF().toDF("doc_id", "text")

    val q1 = StreamDedup.start(docsDf, store, cp)
    // batch 0: b repeated in-batch -> min doc_id (2) wins
    in.addData((1L, "a"), (2L, "b"), (3L, "b"))
    q1.processAllAvailable()
    // batch 1: a is a cross-batch dup; c is new
    in.addData((4L, "a"), (5L, "c"))
    q1.processAllAvailable()
    q1.stop()
    def kept: Set[Long] = StreamDedup.keptIds(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L), s"after two batches: $kept")

    // restart from the checkpoint: the store (not Spark state) is the
    // seen-set, so dedup continues exactly where it left off
    val q2 = StreamDedup.start(docsDf, store, cp)
    in.addData((6L, "b"), (7L, "d"))
    q2.processAllAvailable()
    q2.stop()
    assert(kept == Set(1L, 2L, 5L, 7L), s"after restart: $kept")

    // fold the deltas; the seen-set and the screen must be unchanged
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamDedup.store(store))) >= 2)
    assert(kept == Set(1L, 2L, 5L, 7L), s"after fold: $kept")
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamDedup.store(store))) == 0) // idempotent
    val q3 = StreamDedup.start(docsDf, store, cp)
    in.addData((8L, "d"), (9L, "e"))
    q3.processAllAvailable()
    q3.stop()
    assert(kept == Set(1L, 2L, 5L, 7L, 9L), s"after fold + stream: $kept")
  }

  test("streaming profile: per-batch history, drift verdict, idempotent on restart") {
    import graft.streaming.StreamProfile
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sprof-store") + "/store"
    val cp = tmpDir("graft-sprof-cp")
    val in = MemoryStream[(Long, String)]
    def df = in.toDF().toDF("id", "body")
      .select(col("id"), when(col("body") === "", null).otherwise(col("body")).as("body"))

    val q1 = StreamProfile.start(df, Seq("id", "body"), store, cp)
    in.addData((1L, "a"), (2L, "b"), (3L, "b"))
    q1.processAllAvailable()
    // batch 1: one fewer row, two nulls, collapsed body cardinality
    in.addData((4L, ""), (5L, ""))
    q1.processAllAvailable()
    q1.stop()

    val hist = StreamProfile.history(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(4)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(hist(("body", 0L)) == ((3L, 0L, 2L))) // 3 rows, no nulls, {a, b}
    assert(hist(("body", 1L)) == ((2L, 2L, 0L))) // both null → 0 distinct
    assert(hist(("id", 1L)) == ((2L, 0L, 2L)))

    val d = StreamProfile.drift(spark, store)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(d("body") == ((-1L, 2L, -2L, true))) // the corrupt batch fires every delta
    assert(d("id") == ((-1L, 0L, -1L, true)))

    // restart from the same checkpoint: no reprocessing, history intact;
    // a new batch extends it
    val q2 = StreamProfile.start(df, Seq("id", "body"), store, cp)
    in.addData((6L, "c"))
    q2.processAllAvailable()
    q2.stop()
    val n = StreamProfile.history(spark, store)
      .select("batch_id").distinct().count()
    assert(n == 3, s"expected 3 batch profiles, got $n")

    // an EMPTY micro-batch must profile as all-zeros — sum() over zero
    // rows is NULL without the coalesce, and a NULL n_null propagates
    // into drift()'s null_delta for both adjacent batches
    val pe = StreamProfile.profile(
        spark.emptyDataset[(Long, String)].toDF("id", "body"), Seq("id", "body"))
      .collect()
    assert(pe.length == 2)
    assert(pe.forall(r => !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)
      && r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L),
      s"empty-batch profile must be all-zeros: ${pe.mkString(", ")}")
  }

  test("streaming dedup twin of the d14 gate: graded planted corpus over 3 batches matches the batch detector") {
    // d14's instrument (graded planted severities) pointed at the
    // STREAMING dedup path — the one most likely to silently diverge
    // from its batch twin. StreamDedup is the EXACT detector (d1's
    // semantics, incremental), so its expected curve is a step: every
    // verbatim (sev 0) copy must be caught across batch boundaries,
    // every reworded severity must pass — and the final kept-set must
    // be BIT-EQUAL to the one-shot batch detector over the same corpus.
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val store = tmpDir("graft-sdedup-recall") + "/store"
    val cp = tmpDir("graft-sdedup-recall-cp")
    val docs = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val (planted, truth) = graft.operators.MinHash.gradedPlanting(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq

    // batch 0: originals; batch 1: sev 0+1 copies; batch 2: sev 2+3 —
    // every planted copy screens against PRIOR batches' store entries
    val in = MemoryStream[(Long, String)]
    val q = StreamDedup.start(in.toDF().toDF("doc_id", "text"), store, cp)
    in.addData(rows(docs): _*); q.processAllAvailable()
    in.addData(rows(planted.filter(col("sev") <= 1)): _*); q.processAllAvailable()
    in.addData(rows(planted.filter(col("sev") >= 2)): _*); q.processAllAvailable()
    q.stop()

    val kept = StreamDedup.keptIds(spark, store).as[Long].collect().toSet
    val t = truth.collect().map(r => (r.getLong(1), r.getInt(2)))
    val caughtBySev = t.groupBy(_._2).view
      .mapValues(_.count(p => !kept.contains(p._1))).toMap
    val n = t.length / 4
    assert(n > 0)
    assert(caughtBySev(0) == n,
      s"all $n verbatim copies must dedupe across batches: $caughtBySev")
    assert(Seq(1, 2, 3).forall(caughtBySev(_) == 0),
      s"the exact detector must pass every reworded copy: $caughtBySev")

    val batchKept = docs.unionByName(planted.select("doc_id", "text"))
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == batchKept, "streaming kept-set diverges from the batch twin")
  }

  test("streaming near-dup screen: d14's graded corpus, catches agree with the batch detector pair-for-pair") {
    // The MinHash screen at ingest, graded by d14's instrument. Exact
    // agreement claim: a planted copy carries a store-match row against
    // its own original IFF (a) the original was admitted in batch 0,
    // (b) the copy survived its within-batch stage, and (c) the batch
    // detector (nearDupPairs over the mixed corpus — d14's pairs) links
    // the two. (a)/(b) come from the operator's own outputs, (c) from
    // the batch run — signatures depend only on a doc's text, so the
    // screen's band+estimate condition is literally the same predicate.
    import graft.streaming.StreamNearDup
    import graft.operators.MinHash
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val store = tmpDir("graft-sneardup") + "/store"
    val cp = tmpDir("graft-sneardup-cp")
    val docs = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val (planted, truth) = MinHash.gradedPlanting(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq

    // batch 0: originals; batches 1-4: one severity each (so a copy is
    // screened against the store, not its same-orig siblings)
    val in = MemoryStream[(Long, String)]
    val q = StreamNearDup.start(in.toDF().toDF("doc_id", "text"), store, cp)
    in.addData(rows(docs): _*); q.processAllAvailable()
    for (sev <- 0 to 3) {
      in.addData(rows(planted.filter(col("sev") === sev)): _*)
      q.processAllAvailable()
    }
    q.stop()

    val kept = StreamNearDup.keptIds(spark, store).as[Long].collect().toSet
    val m = StreamNearDup.matches(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val t = truth.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // headline curve: every verbatim copy caught (its original — or the
    // original's admitted representative, same signature — is in the
    // store), and recall non-increasing in severity
    val caught = t.groupBy(_._3).view
      .mapValues(_.count(p => !kept.contains(p._2))).toMap
    val n = t.length / 4
    assert(caught(0) == n, s"all $n verbatim copies must be caught: $caught")
    assert(caught(1) >= caught(2) && caught(2) >= caught(3),
      s"recall must not increase with severity: $caught")
    assert(caught(3) < n, s"the hardest class must show misses: $caught")

    // pair-for-pair agreement with the batch detector
    val d14pairs = MinHash.nearDupPairs(
        docs.union(planted.select("doc_id", "text")), 0.5)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val admitted0 = kept.filter(_ < 7000000) // originals admitted in batch 0
    val batchDropped = m.collect { case (id, _, "batch") => id }.toSet
    val storeMatchSet = m.collect { case (id, mid, "store") => (id, mid) }.toSet
    for (sev <- 0 to 3) {
      val own = t.filter(_._3 == sev)
        .count(p => storeMatchSet.contains((p._2, p._1)))
      val expected = t.filter(_._3 == sev).count(p =>
        admitted0.contains(p._1) && !batchDropped.contains(p._2) &&
          d14pairs.contains((p._1, p._2)))
      assert(own == expected,
        s"sev $sev: $own own-original store matches, batch detector predicts $expected")
    }
  }

  test("streaming near-dup screen: provenance stages, checkpoint restart continuity") {
    import graft.streaming.StreamNearDup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sneardup-rs") + "/store"
    val cp = tmpDir("graft-sneardup-rs-cp")
    def text(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val in = MemoryStream[(Long, String)]
    def src = in.toDF().toDF("doc_id", "text")

    val q1 = StreamNearDup.start(src, store, cp)
    in.addData((1L, text("alpha")), (2L, text("beta")))
    q1.processAllAvailable()
    in.addData((3L, text("alpha"))) // verbatim of stored 1 → store-stage drop
    q1.processAllAvailable()
    q1.stop()
    def kept: Set[Long] = StreamNearDup.keptIds(spark, store)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"after 2 batches: $kept")

    // restart from the same checkpoint: no reprocessing; a new batch
    // screens against the earlier batches' store and within itself
    val q2 = StreamNearDup.start(src, store, cp)
    in.addData((4L, text("beta")), (5L, text("gamma")), (6L, text("gamma")))
    q2.processAllAvailable()
    q2.stop()
    assert(kept == Set(1L, 2L, 5L), s"after restart + batch 3: $kept")
    val m = StreamNearDup.matches(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(m == Set((3L, 1L, "store"), (4L, 2L, "store"), (6L, 5L, "batch")),
      s"provenance: $m")

    // fold the sig deltas: screen state unchanged, provenance intact,
    // idempotent, and a post-fold batch still screens against the store
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamNearDup.store(store))) >= 2)
    assert(kept == Set(1L, 2L, 5L), s"after fold: $kept")
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamNearDup.store(store))) == 0)
    assert(StreamNearDup.matches(spark, store).count() == 3)
    val q3 = StreamNearDup.start(src, store, cp)
    in.addData((7L, text("gamma")), (8L, text("delta")))
    q3.processAllAvailable()
    q3.stop()
    assert(kept == Set(1L, 2L, 5L, 8L), s"after fold + batch 4: $kept")
  }

  test("streaming dedup refuses a new checkpoint over an existing store (batch-id epoch guard)") {
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sdedup-epoch") + "/store"
    val cp1 = tmpDir("graft-sdedup-epoch-cp1")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamDedup.start(in1.toDF().toDF("doc_id", "text"), store, cp1)
    in1.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()
    in1.addData((3L, "c")); q1.processAllAvailable()
    q1.stop()
    def kept: Set[Long] = StreamDedup.keptIds(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))

    // a NEW checkpoint restarts batch ids at 0: batch 0 would screen
    // against nothing and overwrite delta_b0 — must be refused BEFORE
    // any write happens
    val cp2 = tmpDir("graft-sdedup-epoch-cp2")
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamDedup.start(in2.toDF().toDF("doc_id", "text"), store, cp2)
    in2.addData((9L, "a")) // a seen hash that would be re-admitted
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).toList
    assert(chain.exists(c => Option(c.getMessage)
      .exists(_.contains("different checkpoint"))), s"unexpected: $ex")
    // nothing was clobbered or re-admitted
    assert(kept == Set(1L, 2L, 3L))
    assert(spark.read.parquet(s"$store/delta_b0").count() == 2)

    // the rightful checkpoint still resumes and screens correctly
    val q3 = StreamDedup.start(in1.toDF().toDF("doc_id", "text"), store, cp1)
    in1.addData((4L, "a"), (5L, "d"))
    q3.processAllAvailable()
    q3.stop()
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("streaming dedup fold: a crashed delete's leftover delta is overlap, resumed without loss") {
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sdedup-crash") + "/store"
    val cp = tmpDir("graft-sdedup-crash-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamDedup.start(in.toDF().toDF("doc_id", "text"), store, cp)
    in.addData((1L, "a")); q.processAllAvailable()
    in.addData((2L, "b")); q.processAllAvailable()
    in.addData((3L, "c")); q.processAllAvailable()
    q.stop()
    // folds b0+b1; b2 stays out — the newest batch could be uncommitted
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamDedup.store(store))) == 2)
    // crashed delete: a delta the fold already covers survives on disk
    spark.createDataFrame(Seq((org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.lit("a")).toString, 1L))).toDF("h", "doc_id")
      .limit(0) // content is irrelevant — only its id range matters
      .write.parquet(s"$store/delta_b0")
    // resume deletes the covered leftover; nothing new to fold
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamDedup.store(store))) == 0)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/delta_b0")))
    val kept = StreamDedup.keptIds(spark, store).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("enrich-DAG throughput stays above the smoke floor (CI gate for BENCH_STREAM regressions)") {
    // The CI floor for the enrich DAG's streaming throughput: 5 batches
    // x 5k rows through the DAG into a checkpointed parquet sink must
    // sustain >=5k rows/s of ACTIVE throughput (rows / summed
    // triggerExecution time, immune to a loaded test box stalling
    // between triggers). ~4x headroom vs the ~20k rows/s the DAG
    // sustains at 20k-row batches; a real enrich-DAG regression (a UDF
    // slipping in, codegen falling out) cuts throughput by far more
    // than that.
    implicit val sc = spark.sqlContext
    val dir = tmpDir("graft-stream-throughput")
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/cp")
      .outputMode("append").start()
    def batch(b: Int): Seq[String] = (0 until 5000).map { i =>
      val temp = (i % 55) - 10 + (b % 3) * 0.5
      s"""{"date":"d","weather_description":"clear","latitude":"${i % 90}","pression":"${990 + i % 40}",""" +
        s""""humidité":"${30 + i % 60}","feels_like":"${temp - 1}","city_name":"c${i % 997}","local_time":"t",""" +
        s""""min_temp":"${temp - 2}","wind_speed":"${i % 30 / 2.0}","température":"$temp","max_temp":"${temp + 2}",""" +
        s""""timestamp":"${1700000000L + b * 3600L + i}","longitude":"${i % 180}"}"""
    }
    in.addData(batch(0)) // warm-up: first trigger pays codegen compile
    q.processAllAvailable()
    val warmBatches = q.recentProgress.count(_.numInputRows > 0)
    (1 to 5).foreach { b => in.addData(batch(b)); q.processAllAvailable() }
    val timed = q.recentProgress.filter(_.numInputRows > 0).drop(warmBatches)
    q.stop()
    val rows = timed.map(_.numInputRows).sum
    val activeMs = timed.map(_.durationMs.get("triggerExecution").toLong).sum
    assert(rows == 25000L, s"expected 25000 timed rows, saw $rows")
    val rps = rows * 1000.0 / activeMs
    assert(rps >= 5000.0,
      f"enrich-DAG active throughput $rps%.0f rows/s fell below the 5k floor " +
        f"(activeMs=$activeMs over ${timed.length} batches)")
  }

  test("JSON file sink (reference S3 shape) writes readable JSON lines") {
    implicit val sc = spark.sqlContext
    val out = tmpDir("graft-json-out")
    val cp = tmpDir("graft-json-cp")
    val in = MemoryStream[String]
    val q = WeatherPipeline.enriched(in.toDF())
      .writeStream.format("json")
      .option("path", s"$out/enriched_json")
      .option("checkpointLocation", s"$cp/enriched_json")
      .outputMode("append").start()
    in.addData(goldenJson)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.schema(graft.schema.Schemas.schemaC)
      .json(s"$out/enriched_json")
    val row = back.first()
    assert(back.count() == 1 && row.getAs[Int]("dew_point") == 17)
  }

  test("watermarked tumbling window emits closed windows in append mode") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val q = WeatherPipeline
      .windowedStats(WeatherPipeline.enriched(in.toDF()), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("append")
      .start()
    val t0 = 1700000000L // window [t0, t0+300)
    in.addData(at(t0, 20, "A"), at(t0 + 60, 30, "A"), at(t0 + 120, 10, "B"))
    q.processAllAvailable()
    in.addData(at(t0 + 3600, 0, "A")) // push watermark past the first window
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
    val a = rows.find(_.getAs[String]("city_name") == "A").get
    assert(a.getAs[Long]("n") == 2 && a.getAs[Double]("avg_temp") == 25.0)
    val b = rows.find(_.getAs[String]("city_name") == "B").get
    assert(b.getAs[Long]("n") == 1)
    q.stop()
  }

  test("windowed stats in update mode re-emit revised rows per batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val q = WeatherPipeline
      .windowedStats(WeatherPipeline.enriched(in.toDF()), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("upd_out").outputMode("update")
      .start()
    val t0 = 1700000000L
    in.addData(at(t0, 20, "A"))
    q.processAllAvailable()
    in.addData(at(t0 + 60, 30, "A")) // same window: the row is REVISED
    q.processAllAvailable()
    q.stop()
    // update mode emits a new version each batch (no watermark wait);
    // the memory sink keeps both, the latest carries the merged stats
    val versions = spark.table("upd_out")
      .filter(col("city_name") === "A")
      .select("n", "avg_temp").as[(Long, Double)].collect().toSet
    assert(versions == Set((1L, 20.0), (2L, 25.0)))
  }

  test("streaming dedup drops same-batch and cross-batch duplicates") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[String]
    val q = WeatherPipeline.dedupedStream(WeatherPipeline.enriched(in.toDF()))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .start()
    in.addData(goldenJson, goldenJson) // same-batch dupe
    q.processAllAvailable()
    in.addData(goldenJson) // cross-batch dupe, inside the watermark
    q.processAllAvailable()
    assert(spark.table("dedup_out").count() == 1)
    q.stop()
  }

  test("upsert sink keeps exactly the latest row per key across batches") {
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-upsert") + "/latest_by_city"
    val cp = tmpDir("graft-upsert-cp")
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val q = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    val t0 = 1700000000L
    in.addData(at(t0, 10, "X"), at(t0 + 60, 12, "X"), at(t0, 5, "Y"))
    q.processAllAvailable()
    in.addData(at(t0 + 120, 20, "X")) // update X, leave Y
    q.processAllAvailable()
    q.stop()
    val rows = graft.sinks.VersionedStore.read(spark, store)
      .select("city_name", "temperature").as[(String, Int)].collect().toMap
    assert(rows == Map("X" -> 20, "Y" -> 5))
  }

  test("upsert sink survives a crash before the version-pointer flip") {
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-upsert-crash") + "/latest_by_city"
    val cp = tmpDir("graft-upsert-crash-cp")
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val t0 = 1700000000L
    val q1 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    in.addData(at(t0, 10, "X"), at(t0, 5, "Y"))
    q1.processAllAvailable()
    q1.stop()
    // simulate a batch that died AFTER writing its merged version dir
    // (with _SUCCESS) but BEFORE flipping the pointer: an empty bogus
    // version that must never be trusted by the next merge
    val orphan = new org.apache.hadoop.fs.Path(store, "v_9999999999999_dead")
    graft.sinks.VersionedStore.read(spark, store).limit(0)
      .write.parquet(orphan.toString)
    val q2 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    in.addData(at(t0 + 60, 20, "X")) // batch mentions X only
    q2.processAllAvailable()
    q2.stop()
    val rows = graft.sinks.VersionedStore.read(spark, store)
      .select("city_name", "temperature").as[(String, Int)].collect().toMap
    // Y must survive (merge ran against the POINTED version, not the
    // orphan); X takes the update; the orphan was pruned by the flip
    assert(rows == Map("X" -> 20, "Y" -> 5))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(orphan))
  }

  test("upsert sink repairs a lost pointer instead of starting from empty") {
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-upsert-lostptr") + "/latest_by_city"
    val cp = tmpDir("graft-upsert-lostptr-cp")
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val t0 = 1700000000L
    val q1 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    in.addData(at(t0, 10, "X"), at(t0, 5, "Y"))
    q1.processAllAvailable()
    q1.stop()
    // lose ONLY the pointer — version dirs survive. Without the
    // resolve→repair fallback the next merge would see an empty store,
    // publish a version holding just this batch's keys, and the prune
    // would permanently delete Y.
    val base = new org.apache.hadoop.fs.Path(store)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base, "LATEST"), false)
    val q2 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    in.addData(at(t0 + 60, 20, "X")) // batch mentions X only
    q2.processAllAvailable()
    q2.stop()
    val rows = graft.sinks.VersionedStore.read(spark, store)
      .select("city_name", "temperature").as[(String, Int)].collect().toMap
    assert(rows == Map("X" -> 20, "Y" -> 5))
  }

  test("upsert sink merges a pre-versioned legacy store instead of discarding it") {
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-upsert-legacy") + "/latest_by_city"
    val cp = tmpDir("graft-upsert-legacy-cp")
    val cp2 = tmpDir("graft-upsert-legacy-cp2")
    val in = MemoryStream[String]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val t0 = 1700000000L
    val q1 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in.toDF()), store, cp)
    in.addData(at(t0, 10, "X"), at(t0, 5, "Y"))
    q1.processAllAvailable()
    q1.stop()
    // rewind the store to the pre-versioned layout: parquet at the
    // root, no pointer (what the old rename-swap protocol left behind)
    val base = new org.apache.hadoop.fs.Path(store)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.sinks.VersionedStore.resolve(spark, store).get
    fs.listStatus(live).foreach { st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(base, st.getPath.getName))
    }
    fs.delete(live, true)
    fs.delete(new org.apache.hadoop.fs.Path(base, "LATEST"), false)
    // fresh checkpoint => the batch replays from scratch against the
    // legacy store; Y must be carried into the versioned publish
    val in2 = MemoryStream[String]
    val q2 = WeatherPipeline.startUpsertLatest(
      WeatherPipeline.enriched(in2.toDF()), store, cp2)
    in2.addData(at(t0 + 60, 20, "X"))
    q2.processAllAvailable()
    q2.stop()
    val rows = graft.sinks.VersionedStore.read(spark, store)
      .select("city_name", "temperature").as[(String, Int)].collect().toMap
    assert(rows == Map("X" -> 20, "Y" -> 5))
    // the merged legacy roots were cleaned up after the publish
    assert(fs.listStatus(base).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")) == 0)
  }

  test("stream-stream interval join matches within the time bound only") {
    implicit val sc = spark.sqlContext
    val obs = MemoryStream[String]
    val status = MemoryStream[(String, java.sql.Timestamp, String)]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    val q = WeatherPipeline
      .joinWithStatus(WeatherPipeline.enriched(obs.toDF()),
        status.toDS().toDF("status_city", "status_ts", "status"))
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .start()
    val t0 = 1700000000L
    def ts(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    obs.addData(at(t0, 20, "X"), at(t0 + 240, 22, "X"), at(t0 + 60, 15, "Y"))
    status.addData(("X", ts(t0 + 120), "OK"), // within ±5 min of both X obs
      ("X", ts(t0 + 7200), "LATE"), // outside the bound
      ("Z", ts(t0), "NOCITY")) // no matching city
    q.processAllAvailable()
    val rows = spark.table("ssj_out").collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getAs[String]("city_name") == "X" &&
      r.getAs[String]("status") == "OK"))
    q.stop()
  }

  test("sessionization: gap-split and event-time-timeout sessions") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessions(in.toDS())
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .start()
    def ev(u: Long, ms: Long) = Sessionize.Event(u, new java.sql.Timestamp(ms), "e")
    val base = 1700000000000L
    // user 1: two events 10 min apart (same session), then one 2h later (gap)
    in.addData(ev(1, base), ev(1, base + 600000))
    q.processAllAvailable()
    in.addData(ev(1, base + 7200000)) // same batch: splits on gap
    q.processAllAvailable()
    val closed = spark.table("sess_out").as[Sessionize.Session].collect()
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.closed_by == "gap")
    assert(closed.head.start_ms == base && closed.head.end_ms == base + 600000)
    // user 2 far in the future pushes the watermark => user 1's open
    // session times out via EventTimeTimeout
    in.addData(ev(2, base + 30 * 3600000L))
    q.processAllAvailable()
    in.addData(ev(2, base + 31 * 3600000L)) // one more batch to evaluate timeouts
    q.processAllAvailable()
    val all = spark.table("sess_out").as[Sessionize.Session].collect()
    val timedOut = all.filter(_.closed_by == "timeout")
    assert(timedOut.exists(s => s.user_id == 1 && s.end_ms == base + 7200000))
    q.stop()
  }

  test("streaming freshness: planted dark batches flagged with exact runs, lag, and idempotent replay") {
    import graft.streaming.StreamFreshness
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sfresh-store") + "/store"
    val cp = tmpDir("graft-sfresh-cp")
    val in = MemoryStream[(Long, String)]
    def df = in.toDF().toDF("ms", "event_type")
      .select(timestamp_millis(col("ms")).as("ts"), col("event_type"))

    val q = StreamFreshness.start(df, store, cp)
    // batch 0: both sources alive
    in.addData((1000L, "a"), (2000L, "b"))
    q.processAllAvailable()
    // batches 1-2: source b goes DARK for two consecutive batches
    in.addData((3000L, "a"))
    q.processAllAvailable()
    in.addData((4000L, "a"))
    q.processAllAvailable()
    // batch 3: b recovers but stays BEHIND the high-water mark
    in.addData((6000L, "a"), (5000L, "b"))
    q.processAllAvailable()
    q.stop()

    val rep = StreamFreshness.report(spark, store).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    assert(rep("a") == ((4L, 0L, 0L, 0L, false)), s"a should audit clean: ${rep("a")}")
    assert(rep("b") == ((2L, 2L, 2L, 1000L, true)),
      s"b: present 2, missing 2, run 2, lag 1000 ms, flagged: ${rep("b")}")

    // idempotent on restart/replay: re-running the stream over the
    // same checkpoint appends nothing and rewrites nothing
    val before = StreamFreshness.history(spark, store).count()
    val q2 = StreamFreshness.start(df, store, cp)
    q2.processAllAvailable()
    q2.stop()
    assert(StreamFreshness.history(spark, store).count() == before)
    val rep2 = StreamFreshness.report(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep2("b") == 2L)
  }

  test("streaming SCD2 twin: replayed event log matches cdc3's closed intervals row-for-row") {
    // parity against the ORACLED batch operator: the real sf0.001
    // events replayed in log order across 3 micro-batches through the
    // stateful builder must emit exactly cdc3_scd2's is_current = 0
    // rows (same versions, segments, [valid_from, valid_to) chain in
    // ms, same event counts); the open runs stay in state — one per
    // user, never emitted — so closed-count = batch rows - users.
    import graft.streaming.StreamScd2
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val log = graft.sources.Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "event_type")
      .as[StreamScd2.Change].collect()
      .sortBy(c => (c.ts.getTime, c.event_id))
    val in = MemoryStream[StreamScd2.Change]
    val q = StreamScd2.intervals(in.toDS())
      .writeStream.format("memory").queryName("scd2_out").outputMode("append")
      .start()
    for (batch <- log.grouped((log.length + 2) / 3)) {
      in.addData(batch.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("scd2_out").as[StreamScd2.Closed].collect()
      .map(c => (c.user_id, c.version, c.segment, c.valid_from_ms, c.valid_to_ms,
        c.n_events)).toSet
    val batchRows = SparkEntry.queries("cdc3_scd2")(spark, d).collect()
    val closedBatch = batchRows.filter(_.getLong(5) == 0L)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime, r.getLong(6))).toSet
    assert(streamed == closedBatch,
      s"stream/batch SCD2 divergence: ${(streamed diff closedBatch).take(3)} vs ${(closedBatch diff streamed).take(3)}")
    val nUsers = batchRows.map(_.getLong(0)).distinct.length
    assert(streamed.size == batchRows.length - nUsers,
      "open-run accounting: state must hold exactly one unemitted run per user")
    // the loud-failure contract: a cross-batch regression (event older
    // than the open run) must FAIL the query, not corrupt the history
    val in2 = MemoryStream[StreamScd2.Change]
    val q2 = StreamScd2.intervals(in2.toDS())
      .writeStream.format("memory").queryName("scd2_bad").outputMode("append")
      .start()
    def ch(u: Long, ms: Long, id: Long, seg: String) =
      StreamScd2.Change(u, new java.sql.Timestamp(ms), id, seg)
    in2.addData(ch(1, 2000, 1, "a"))
    q2.processAllAvailable()
    in2.addData(ch(1, 1000, 2, "b")) // regression across batches
    val failed =
      try { q2.processAllAvailable(); false }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(_.getMessage != null) // reached a cause chain — query died
      }
    assert(failed, "out-of-order cross-batch event must fail the query loudly")
    try q2.stop() catch { case _: Throwable => () }
  }

  test("stream-stream interval join: cross-batch parity with its batch twin, runs stateful") {
    // joinWithStatus applied to BATCH frames is its own oracle
    // (withWatermark is a no-op outside streaming), so this pins the
    // streaming execution against the batch engine on identical input —
    // not against a re-derivation. The fixture splits a matching
    // (observation, status) pair across two micro-batches: the status
    // arrives in batch 1, its second matching observation in batch 2,
    // so parity holds only if the status side's join state survived the
    // batch boundary.
    implicit val sc = spark.sqlContext
    val obs = MemoryStream[String]
    val status = MemoryStream[(String, java.sql.Timestamp, String)]
    def at(epoch: Long, temp: Double, city: String) =
      s"""{"date":"d","weather_description":"clear","latitude":"0","pression":"1000",
         |"humidité":"50","feels_like":"0","city_name":"$city","local_time":"t",
         |"min_temp":"0","wind_speed":"1.0","température":"$temp","max_temp":"0",
         |"timestamp":"$epoch","longitude":"0"}""".stripMargin.replace("\n", "")
    def ts(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    val q = WeatherPipeline
      .joinWithStatus(WeatherPipeline.enriched(obs.toDF()),
        status.toDS().toDF("status_city", "status_ts", "status"))
      .writeStream.format("memory").queryName("ssj_parity_out").outputMode("append")
      .start()
    val t0 = 1700000000L
    val obsRows = Seq(at(t0, 20, "X"), // batch 1
      at(t0 + 240, 22, "X"), at(t0 + 60, 15, "Y")) // batch 2
    val statusRows = Seq(("X", ts(t0 + 120), "OK"), // batch 1; matches BOTH X obs
      ("Y", ts(t0 + 90), "YOK"), // batch 2, same-batch match
      ("Z", ts(t0), "NOCITY")) // batch 2, no matching city
    obs.addData(obsRows.head); status.addData(statusRows.head)
    q.processAllAvailable()
    obs.addData(obsRows.tail: _*); status.addData(statusRows.tail: _*)
    q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("city_name"), r.getAs[java.sql.Timestamp]("timestamp_dt"),
        r.getAs[String]("status"), r.getAs[java.sql.Timestamp]("status_ts"))
    val got = spark.table("ssj_parity_out").collect().map(key).toSet
    val want = WeatherPipeline.joinWithStatus(
      WeatherPipeline.enriched(obsRows.toDF("value")),
      statusRows.toDF("status_city", "status_ts", "status"))
      .collect().map(key).toSet
    assert(want.size == 3, s"fixture should produce 3 matches, got ${want.size}")
    // the cross-batch pair (batch-2 observation × batch-1 status) is in it
    assert(want.exists { case (c, t, s, _) =>
      c == "X" && t == ts(t0 + 240) && s == "OK" })
    assert(got == want, "streaming join diverges from the batch twin")
    assert(q.lastProgress.stateOperators.nonEmpty,
      "expected a stateful symmetric hash join operator")
    q.stop()
  }

  test("streaming BM25 index ingest: streamed store serves exactly the from-scratch ranking") {
    import graft.operators.Retrieval
    import graft.streaming.{StreamDedup, StreamPostings}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val store = tmpDir("graft-spostings") + "/store"
    val cp = tmpDir("graft-spostings-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamPostings.start(in.toDF().toDF("doc_id", "text"), store, cp)
    docs.grouped((docs.size + 2) / 3).foreach { g =>
      in.addData(g: _*); q.processAllAvailable()
    }
    q.stop()
    // served index == the from-scratch r1 ranking: df is refreshed at
    // read time over the whole store, so idf is exact after streaming
    val postings = StreamPostings.served(spark, store)
    val qterms = Retrieval.fixtureQueries.toDF("query_id", "term")
    val served = Retrieval.serveBm25(postings,
        Retrieval.statsFromPostings(postings), qterms,
        Retrieval.fixtureQueries.map(_._2).distinct, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val scratch = SparkEntry.queries("r1_bm25")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served == scratch, "streamed index diverged from the from-scratch ranking")
    // replay idempotence is structural: re-tokenizing a batch is pure,
    // so a rewritten delta holds identical content (postings AND the
    // per-doc tombstone markers, which are a pure function of the
    // batch's doc_id set)
    val b0 = spark.read.parquet(s"$store/delta_b0")
    val again = Retrieval.rawPostings(
      b0.select("doc_id").distinct().join(
          graft.sources.Tables.documents(spark, d).select("doc_id", "text"), "doc_id")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks")))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf", "dl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(norm(b0.filter(col("term") =!= "")) == norm(again))
    val markerDocs = b0.filter(col("term") === "")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(markerDocs == b0.select("doc_id").collect().map(_.getLong(0)).toSet,
      "every batch doc_id must carry exactly its tombstone marker")
    // fold compaction + the overlap crash contract hold here too
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamPostings.store(store))) > 0)
    val afterFold = Retrieval.serveBm25(StreamPostings.served(spark, store),
        Retrieval.statsFromPostings(StreamPostings.served(spark, store)), qterms,
        Retrieval.fixtureQueries.map(_._2).distinct, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(afterFold == scratch, "serving changed after fold compaction")
  }

  test("postings store visibility: uncommitted deltas invisible, doc reissue is last-writer-wins") {
    import graft.operators.Retrieval
    import graft.streaming.StreamPostings
    import org.apache.spark.sql.functions.{col, expr, lit}
    import spark.implicits._
    val store = tmpDir("graft-postings-vis")
    def delta(id: Long, docs: org.apache.spark.sql.DataFrame): Unit =
      Retrieval.rawPostings(docs.select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks")))
        .withColumn("b", lit(id))
        .write.mode("overwrite").parquet(s"$store/delta_b$id")
    def servedRows(): Set[(String, Long, Long, Long)] =
      StreamPostings.served(spark, store)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(4))).toSet // (term, doc_id, tf, df)
    delta(0, Seq((1L, "alpha beta beta"), (2L, "beta gamma")).toDF("doc_id", "text"))
    val base = servedRows()
    assert(base.contains(("beta", 1L, 2L, 2L)), s"unexpected base state: $base")
    // a delta mid-write (no _SUCCESS yet) must be invisible to readers
    // — the serve-during-append contract: only batch-boundary states
    // are ever observable
    delta(1, Seq((3L, "alpha alpha")).toDF("doc_id", "text"))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val succ = new org.apache.hadoop.fs.Path(s"$store/delta_b1/_SUCCESS")
    fs.delete(succ, false)
    assert(servedRows() == base, "an uncommitted delta leaked into serving")
    fs.create(succ, true).close()
    assert(servedRows().contains(("alpha", 3L, 2L, 2L)),
      "committed delta should serve (df refreshed: alpha now in docs 1 and 3)")
    // doc 2 reissued with entirely different text: the reader must keep
    // only the newest batch's postings for it — old terms gone, df of
    // 'beta' drops back to doc 1 only, no double-indexing
    delta(2, Seq((2L, "epsilon epsilon zeta")).toDF("doc_id", "text"))
    val got = servedRows()
    assert(got.contains(("epsilon", 2L, 2L, 1L)), s"reissued doc not served: $got")
    assert(!got.exists { case (t, id, _, _) => id == 2L && (t == "beta" || t == "gamma") },
      s"stale postings for the reissued doc survived: $got")
    assert(got.contains(("beta", 1L, 2L, 1L)),
      s"df not refreshed after the reissue (beta should count doc 1 only): $got")
  }

  test("streaming positional index ingest: streamed store equals the batch build, phrase serving agrees") {
    import graft.operators.Retrieval
    import graft.streaming.{StreamDedup, StreamPosPostings}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val store = tmpDir("graft-spos") + "/store"
    val cp = tmpDir("graft-spos-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamPosPostings.start(in.toDF().toDF("doc_id", "text"), store, cp)
    docs.grouped((docs.size + 2) / 3).foreach { g =>
      in.addData(g: _*); q.processAllAvailable()
    }
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Seq[Int])] =
      df.select("term", "doc_id", "ps").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq
    // positions are per-document state: the streamed store must hold
    // EXACTLY the rows a one-shot batch build produces
    val batchBuilt = Retrieval.rawPosPostings(
      graft.sources.Tables.documents(spark, d).select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks")))
    assert(norm(StreamPosPostings.served(spark, store)) == norm(batchBuilt),
      "streamed positional store diverged from the batch build")
    // r8-style phrase serving over the streamed store: the first doc's
    // leading trigram must match its own doc via the same adjacency
    // verify the stored-artifact path runs
    val Seq(t1, t2, t3) = "[a-z]+".r.findAllIn(docs.head._2.toLowerCase).take(3).toSeq
    val idx = StreamPosPostings.served(spark, store)
      .filter(col("term").isin(t1, t2, t3))
    val a = idx.filter(col("term") === t1).select(col("doc_id"), col("ps").as("ps1"))
    val b = idx.filter(col("term") === t2).select(col("doc_id").as("d2"), col("ps").as("ps2"))
    val c = idx.filter(col("term") === t3).select(col("doc_id").as("d3"), col("ps").as("ps3"))
    val matched = a.join(b, col("doc_id") === col("d2"))
      .join(c, col("doc_id") === col("d3"))
      .withColumn("n", expr(
        "size(filter(ps1, p -> array_contains(ps2, p + 1) AND array_contains(ps3, p + 2)))"))
      .filter(col("n") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(matched.contains(docs.head._1),
      s"phrase '${Seq(t1, t2, t3).mkString(" ")}' missed its own doc: $matched")
    // fold compaction preserves content; a restart with no new data is
    // a no-op (checkpoint idempotence)
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamPosPostings.store(store))) > 0)
    assert(norm(StreamPosPostings.served(spark, store)) == norm(batchBuilt),
      "fold compaction changed the served positional index")
    val q2 = StreamPosPostings.start(in.toDF().toDF("doc_id", "text"), store, cp)
    q2.processAllAvailable(); q2.stop()
    assert(norm(StreamPosPostings.served(spark, store)) == norm(batchBuilt),
      "checkpoint restart perturbed the positional store")
  }

  test("streaming stemmed-analyzer ingest matches the batch stemmed build, analyzer applied") {
    // the stemmed index's streaming twin: same delta discipline, the
    // analyzer swapped at start() — a stemmed-search deployment keeps
    // its index fresh under append exactly like the raw one
    import graft.operators.Retrieval
    import graft.streaming.StreamPostings
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq :+
      ((900001L, "tables queries flies")) // stems: table, query, fly
    val store = tmpDir("graft-stempost") + "/store"
    val cp = tmpDir("graft-stempost-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamPostings.start(in.toDF().toDF("doc_id", "text"), store, cp,
      analyzer = StreamPostings.stemmedAnalyzer)
    docs.grouped((docs.size + 1) / 2).foreach { g =>
      in.addData(g: _*); q.processAllAvailable()
    }
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf", "dl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batchBuilt = Retrieval.rawPostings(
      docs.toDF("doc_id", "text").select(col("doc_id"),
        expr(StreamPostings.stemmedAnalyzer).as("toks")))
    assert(norm(StreamPostings.served(spark, store).drop("df")) == norm(batchBuilt),
      "streamed stemmed store diverged from the batch stemmed build")
    // the analyzer really ran: the plural-only doc serves under stems
    val planted = StreamPostings.served(spark, store)
      .filter(col("doc_id") === 900001L)
      .select("term").collect().map(_.getString(0)).toSet
    assert(planted == Set("table", "query", "fly"),
      s"stemmed analyzer not applied in the stream: $planted")
    // and the POSITIONAL twin honors the same parameter — a stemmed
    // scoring index must pair with a stemmed positional store, or
    // phrase/snippet reads miss the stemmed query literals
    import graft.streaming.StreamPosPostings
    val store2 = tmpDir("graft-stempos") + "/store"
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamPosPostings.start(in2.toDF().toDF("doc_id", "text"), store2,
      tmpDir("graft-stempos-cp"), analyzer = StreamPostings.stemmedAnalyzer)
    in2.addData((900001L, "tables queries flies"))
    q2.processAllAvailable(); q2.stop()
    val posTerms = StreamPosPostings.served(spark, store2)
      .select("term").collect().map(_.getString(0)).toSet
    assert(posTerms == Set("table", "query", "fly"),
      s"positional ingest ignored the stemmed analyzer: $posTerms")
  }

  test("postings tombstones: a doc reissued with zero-token text disappears from both stores") {
    // the served-from-newest-text-only contract in its nastiest corner:
    // the new text tokenizes to NOTHING, so the reissue batch emits no
    // postings — only the per-doc marker row keeps the max-b
    // computation aware of the reissue. Without it the older batch's
    // rows stay max-b and the doc serves from DELETED text.
    import graft.streaming.{StreamPosPostings, StreamPostings}
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val store1 = tmpDir("graft-tomb-post") + "/store"
    val store2 = tmpDir("graft-tomb-pos") + "/store"
    val cp = tmpDir("graft-tomb-cp")
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val qa = StreamPostings.start(src, store1, s"$cp/a")
    val qb = StreamPosPostings.start(src, store2, s"$cp/b")
    in.addData((1L, "alpha beta beta"), (2L, "gamma alpha"))
    qa.processAllAvailable(); qb.processAllAvailable()
    // reissue doc 1 with text whose tokenization is EMPTY
    in.addData((1L, "123 456 789"))
    qa.processAllAvailable(); qb.processAllAvailable()
    qa.stop(); qb.stop()
    val served1 = StreamPostings.served(spark, store1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))) // term, doc, df
    assert(!served1.exists(_._2 == 1L),
      s"doc 1's deleted-text postings survived the reissue: ${served1.toSeq}")
    // df must also reflect the departure: alpha now lives in doc 2 only
    assert(served1.contains(("alpha", 2L, 1L)),
      s"df not refreshed after the tombstone: ${served1.toSeq}")
    val served2 = StreamPosPostings.served(spark, store2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(!served2.exists(_._2 == 1L),
      s"doc 1's positional rows survived the reissue: ${served2.toSeq}")
    assert(served2.toSet == Set(("gamma", 2L), ("alpha", 2L)))
  }

  test("streaming ANN index ingest: delta store serves exactly the one-shot encode, folds compact") {
    import graft.operators.VectorOps
    import graft.streaming.{StreamDedup, StreamVec}
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-svec") + "/store"
    val cp = tmpDir("graft-svec-cp")
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    // three micro-batches of roughly a third each
    rows.grouped((rows.size + 2) / 3).foreach { g =>
      in.addData(g.map { case (id, v) => (id, Some(v)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val served = StreamVec.codes(spark, store)
    assert(served.count() == rows.size)
    // serving from the streamed-in store == serving from a one-shot
    // encode of the same corpus (encode is a pure per-vector function):
    // v10's broadcast-LUT batch path AND v9's IVF-PQ composite
    val qs10 = emb.filter(col("vec_id") < 32)
    val oneShotAdc = VectorOps.adcSearch(spark, emb, qs10, 5, Some(books), None)
      .collect().toSeq
    assert(VectorOps.adcSearch(spark, emb, qs10, 5, Some(books), Some(served))
      .collect().toSeq == oneShotAdc)
    val qs9 = emb.filter(col("vec_id") < 10)
    val oneShotIvf = VectorOps.ivfServe(spark, emb, qs9, 10, Some(books), None)
      .collect().toSeq
    assert(VectorOps.ivfServe(spark, emb, qs9, 10, Some(books), Some(served))
      .collect().toSeq == oneShotIvf)
    // replay idempotence is structural: re-encoding a batch is
    // deterministic, so a rewritten delta holds identical content
    val b0 = spark.read.parquet(s"$store/delta_b0")
    val again = VectorOps.encodeCodes(
        b0.select("vec_id").join(emb, "vec_id"), books)
      .withColumn("b", lit(0L)).withColumn("del", lit(false))
    assert(b0.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
    // no drift planted: every batch's gate verdict is retrain = false
    val dl = StreamVec.driftLog(spark, store).collect()
    assert(dl.length == 3 && dl.forall(!_.getBoolean(4)),
      s"unexpected drift verdicts: ${dl.toSeq}")
    // the store's own fold compacts it — and BOTH serving paths are
    // unchanged after compaction
    val preFold = new org.apache.hadoop.fs.Path(s"$store/delta_b0")
    val fsys = preFold.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(tmpDir("graft-svec-stash"), "delta_b0")
    org.apache.hadoop.fs.FileUtil.copy(fsys, preFold, fsys, stash, false,
      spark.sparkContext.hadoopConfiguration)
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamVec.store(store))) > 0)
    val folded = StreamVec.codes(spark, store)
    assert(VectorOps.adcSearch(spark, emb, qs10, 5, Some(books), Some(folded))
      .collect().toSeq == oneShotAdc)
    assert(VectorOps.ivfServe(spark, emb, qs9, 10, Some(books), Some(folded))
      .collect().toSeq == oneShotIvf)
    // crash contract: a fold that wrote but didn't finish deleting its
    // inputs leaves the same rows in two dirs ("overlap, never loss").
    // Restore a folded delta next to the fold — the reader must still
    // serve each vector ONCE (a duplicated vec_id would occupy two
    // top-k slots)
    org.apache.hadoop.fs.FileUtil.copy(fsys, stash, fsys, preFold, false,
      spark.sparkContext.hadoopConfiguration)
    assert(StreamVec.codes(spark, store).count() == rows.size)
    assert(VectorOps.adcSearch(spark, emb, qs10, 5, Some(books),
      Some(StreamVec.codes(spark, store))).collect().toSeq == oneShotAdc)
  }

  test("streaming ANN ingest: reissue serves newest codes, tombstone deletes, restart continues") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-svec2") + "/store"
    val cp = tmpDir("graft-svec2-cp")
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    in.addData(rows.take(20).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    // REISSUE vec 0 with vec 7's embedding: serving must rank it from
    // the NEW codes (max-b last-writer), not keep the old row alongside
    in.addData((rows(0)._1, Some(rows(7)._2)))
    q.processAllAvailable()
    val afterReissue = StreamVec.codes(spark, store)
    assert(afterReissue.count() == 20, "reissue duplicated a vec_id")
    val reissued = afterReissue.filter(col("vec_id") === rows(0)._1)
      .collect().head
    val expect = VectorOps.encodeCodes(
      emb.filter(col("vec_id") === rows(7)._1), books).collect().head
    assert((1 to VectorOps.PqM).forall(m =>
        reissued.getLong(m) == expect.getLong(m)),
      s"reissued vec serves stale codes: $reissued vs $expect")
    // TOMBSTONE vec 3: gone from serving, store count drops by one
    in.addData((rows(3)._1, None))
    q.processAllAvailable()
    q.stop()
    val afterDel = StreamVec.codes(spark, store)
    assert(afterDel.count() == 19)
    assert(afterDel.filter(col("vec_id") === rows(3)._1).isEmpty)
    // RESTART from the same checkpoint (same source — offsets
    // continue): ownership holds (same query id), batch ids continue,
    // prior content intact
    val q2 = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    in.addData(rows.slice(20, 25).map { case (id, v) => (id, Some(v)) }: _*)
    q2.processAllAvailable()
    q2.stop()
    val afterRestart = StreamVec.codes(spark, store)
    assert(afterRestart.count() == 24, "restart lost or duplicated rows")
    // and the restarted store still serves exactly the one-shot encode
    // of its live set
    val liveIds = afterRestart.select("vec_id").collect().map(_.getLong(0)).toSet
    val oneShot = VectorOps.encodeCodes(
        emb.filter(col("vec_id").isin(liveIds.toSeq: _*)), books)
      .collect().map(_.toSeq).toSet
    // reissued vec 0 carries vec 7's codes, not its own one-shot encode
    val oneShotAdjusted = oneShot.filterNot(_.head == rows(0)._1) +
      (rows(0)._1 +: expect.toSeq.tail)
    assert(afterRestart.collect().map(_.toSeq).toSet == oneShotAdjusted)
  }

  test("last-writer compaction physically erases superseded and tombstoned payloads; crash contract intact") {
    import graft.operators.VectorOps
    import graft.streaming.{StreamPostings, StreamVec}
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val store = tmpDir("graft-svec-purge") + "/store"
    val cp = tmpDir("graft-svec-purge-cp")
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    val (vx, vy) = (rows(0)._1, rows(1)._1)
    // b0: ten vectors; b1: reissue X with vec 5's embedding; b2:
    // tombstone Y; b3: a fresh vector so b0-b2 are all foldable
    in.addData(rows.take(10).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    in.addData((vx, Some(rows(5)._2))); q.processAllAvailable()
    in.addData((vy, None)); q.processAllAvailable()
    in.addData((rows(10)._1, Some(rows(10)._2))); q.processAllAvailable()
    q.stop()
    // read every live part dir directly (the reader's union, unfiltered)
    def rawStore() = {
      val base = new org.apache.hadoop.fs.Path(store)
      val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirs = fsys.listStatus(base).toSeq.map(_.getPath).filter { p =>
        (p.getName.startsWith("delta_b") || p.getName.startsWith("fold_0_")) &&
          fsys.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }.map(_.toString)
      spark.read.parquet(dirs: _*)
    }
    // pre-fold: X has two code rows on disk, Y has code row + tombstone
    assert(rawStore().filter(col("vec_id") === vx).count() == 2)
    assert(rawStore().filter(col("vec_id") === vy).count() == 2)
    // stash b0 to stage the fold-crash overlap afterwards
    val b0p = new org.apache.hadoop.fs.Path(s"$store/delta_b0")
    val fsys = b0p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(tmpDir("graft-svec-purge-stash"), "delta_b0")
    org.apache.hadoop.fs.FileUtil.copy(fsys, b0p, fsys, stash, false,
      spark.sparkContext.hadoopConfiguration)
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamVec.store(store))) > 0)
    // physically erased: X's superseded row gone (one row left, the
    // reissue), Y's CODE row gone (only the key tombstone remains)
    assert(rawStore().filter(col("vec_id") === vx).count() == 1)
    val yRows = rawStore().filter(col("vec_id") === vy).collect()
    assert(yRows.length == 1 && yRows.head.getAs[Boolean]("del"),
      s"tombstoned payload not erased: ${yRows.toSeq}")
    // serving: Y gone, X serves the reissued codes, everyone else intact
    val served = StreamVec.codes(spark, store)
    assert(served.count() == 10) // 10 live: 11 ingested - Y
    val xCodes = served.filter(col("vec_id") === vx).collect().head
    val expect = VectorOps.encodeCodes(
      emb.filter(col("vec_id") === rows(5)._1), books).collect().head
    assert((1 to VectorOps.PqM).forall(m => xCodes.getLong(m) == expect.getLong(m)))
    // crash contract: restore the deleted input delta (fold committed,
    // input delete "crashed") — Y must STAY dead (the fold kept its
    // tombstone) and X must still serve the reissue (max-b beats the
    // resurrected b0 row)
    org.apache.hadoop.fs.FileUtil.copy(fsys, stash, fsys, b0p, false,
      spark.sparkContext.hadoopConfiguration)
    val served2 = StreamVec.codes(spark, store)
    assert(served2.count() == 10)
    assert(served2.filter(col("vec_id") === vy).isEmpty)
    val xCodes2 = served2.filter(col("vec_id") === vx).collect().head
    assert((1 to VectorOps.PqM).forall(m => xCodes2.getLong(m) == expect.getLong(m)))

    // the postings-store twin: tombstoned doc's payload physically gone
    val store2 = tmpDir("graft-spost-purge") + "/store"
    val cp2 = tmpDir("graft-spost-purge-cp")
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamPostings.start(in2.toDF().toDF("doc_id", "text"), store2, cp2)
    in2.addData((1L, "alpha beta"), (2L, "gamma")); q2.processAllAvailable()
    in2.addData((1L, "123 456")); q2.processAllAvailable() // tombstone reissue
    in2.addData((3L, "delta")); q2.processAllAvailable()
    q2.stop()
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamPostings.store(store2))) > 0)
    val raw2 = {
      val base = new org.apache.hadoop.fs.Path(store2)
      val f2 = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirs = f2.listStatus(base).toSeq.map(_.getPath).filter { p =>
        (p.getName.startsWith("delta_b") || p.getName.startsWith("fold_0_")) &&
          f2.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }.map(_.toString)
      spark.read.parquet(dirs: _*)
    }
    val doc1 = raw2.filter(col("doc_id") === 1L).collect()
    assert(doc1.forall(_.getString(0) == ""),
      s"doc 1's postings survived erasure compaction: ${doc1.toSeq}")
    val srv = StreamPostings.served(spark, store2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(srv == Set(("gamma", 2L), ("delta", 3L)))
  }

  test("streaming ANN ingest: drift gate fires loudly on a rotated batch") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-svec3") + "/store"
    val cp = tmpDir("graft-svec3-cp")
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    // batch 0: in-distribution — gate quiet
    in.addData(rows.take(50).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    // batch 1: v16's planted production accident — a new encoder ships
    // un-normalized embeddings (×4, float-exact) — gate must FIRE
    in.addData(rows.slice(50, 100).map { case (id, v) =>
      (id + 5000000L, Some(v.map(_ * 4.0f)))
    }: _*)
    q.processAllAvailable()
    q.stop()
    val dl = StreamVec.driftLog(spark, store).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(!dl(0L)._2, s"gate false-fired on in-distribution batch: ${dl(0L)}")
    assert(dl(1L)._2,
      s"gate silent on a 4x-rotated batch (ppm ${dl(1L)._1} vs threshold ${StreamVec.RetrainPpm})")
    // the flag is a flag, not a drop: the drifted rows still landed
    assert(StreamVec.codes(spark, store).count() == 100)
  }


  test("e2e4 stream prep: composed quality->exact->neardup->decontam chain matches the batch chain, restart continues") {
    import graft.operators.{MinHash, TextOps}
    import graft.streaming.StreamPrep
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sprep") + "/store"
    val cp = tmpDir("graft-sprep-cp")
    // stopword-rich 30-token texts that clear the quality gate
    def good(p: String) = (1 to 10).map(i => s"the ${p}$i of").mkString(" ")
    val benchTokens = good("bench").split(" ").toSeq
    // contaminated doc: the bench item's first 20 tokens (13 of its 23
    // 8-gram windows shared -> 2*13 >= 23 flags) plus a unique tail
    val contamText = (benchTokens.take(20) ++
      (1 to 10).map(i => s"the tail$i of").flatMap(_.split(" "))).mkString(" ")
    // ids increase with arrival order, and every in-batch near-dup
    // pair's smaller doc is admitted — so the stream's greedy screen
    // equals the global batch chain (min-id exact reps + greedy-by-id
    // near-dup) on the same corpus
    val batch1 = Seq(1L -> good("alpha"), 2L -> "zzz qqq 12345 !!!",
      3L -> good("beta"))
    val batch2 = Seq(4L -> good("alpha"), // exact dup of 1
      5L -> (good("alpha") + " extra"), // near-dup of stored 1
      6L -> good("gamma"),
      7L -> good("delta"), 8L -> (good("delta") + " tail"), // in-batch pair
      9L -> contamText)
    val batch3 = Seq(10L -> good("gamma"), // exact dup of stored 6
      11L -> good("epsilon"),
      12L -> (good("gamma") + " extra"), // near-dup of stored 6
      13L -> "999 888 777") // zero word tokens -> NULL quality
    val allBatches = Seq(batch1, batch2, batch3)
    val bw = TextOps.d7bBenchWindows(
      Seq((1L, benchTokens)).toDF("bench_id", "bws")).localCheckpoint()

    val in = MemoryStream[(Long, String)]
    def src = in.toDF().toDF("doc_id", "text")
    val q1 = StreamPrep.start(src, bw, store, cp)
    in.addData(batch1: _*); q1.processAllAvailable()
    in.addData(batch2: _*); q1.processAllAvailable()
    q1.stop()
    // RESTART from the same checkpoint: the chain continues against the
    // component stores, no reprocessing
    val q2 = StreamPrep.start(src, bw, store, cp)
    in.addData(batch3: _*); q2.processAllAvailable()
    q2.stop()

    val got = StreamPrep.manifest(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // ---- the batch chain on the same corpus (the parity twin) ------
    val all = allBatches.flatten.toDF("doc_id", "text")
    val scoredB = TextOps.qualityScored(all).localCheckpoint()
    val passedB = scoredB.filter(col("quality") >= 0.5)
    // d1: min-id representative per md5
    val exactKept = passedB.select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    val exactSurv = passedB.filter(col("doc_id").isin(exactKept.toSeq: _*))
    // greedy-by-id near-dup over the banded pair graph (d15's semantics)
    val pairs = MinHash.nearDupPairsFromSignatures(
        MinHash.signatures(exactSurv.select("doc_id", "text")), 0.5)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val admitted = scala.collection.mutable.Set.empty[Long]
    exactSurv.select("doc_id").as[Long].collect().sorted.foreach { id =>
      if (!admitted.exists(a => pairs.contains((a, id)) || pairs.contains((id, a))))
        admitted += id
    }
    val nearSurv = exactSurv.filter(col("doc_id").isin(admitted.toSeq: _*))
    val contaminatedB = TextOps.d7bVerdicts(
        nearSurv.select(col("doc_id"), split(col("text"), " ").as("ws")), bw)
      .select("doc_id").distinct().as[Long].collect().toSet
    val passedIds = passedB.select("doc_id").as[Long].collect().toSet
    val expected = allBatches.flatten.map(_._1).map { id =>
      id -> (if (!passedIds.contains(id)) "quality"
      else if (!exactKept.contains(id)) "exact"
      else if (!admitted.contains(id)) "neardup"
      else if (contaminatedB.contains(id)) "contaminated"
      else "kept")
    }.toMap
    assert(got == expected,
      s"stream manifest diverged from the batch chain:\n  got $got\n  exp $expected")

    // the planted rows actually exercised every stage
    assert(got(2L) == "quality" && got(13L) == "quality")
    assert(got(4L) == "exact" && got(10L) == "exact")
    assert(got(5L) == "neardup" && got(8L) == "neardup" && got(12L) == "neardup")
    assert(got(9L) == "contaminated")
    assert(Set(1L, 3L, 6L, 7L, 11L).forall(got(_) == "kept"))
    // provenance lives in the component stores
    assert(StreamPrep.verdicts(spark, store).count() == 1)
    assert(graft.streaming.StreamNearDup.matches(spark, s"$store/sigs")
      .filter(col("stage") === "batch").count() == 1)
    // exactly one manifest row per incoming doc across the restart
    assert(StreamPrep.manifest(spark, store).count() == 13)
    assert(StreamPrep.keptIds(spark, store).as[Long].collect().toSet ==
      Set(1L, 3L, 6L, 7L, 11L))

    // fold BOTH screen stores mid-chain (the composed pipeline's new
    // store interaction — standalone fold semantics are pinned
    // elsewhere): manifest and kept set unchanged, and a post-fold
    // batch still screens against the folded state on both stores
    assert(graft.streaming.StoreSink.fold(spark, Seq(graft.streaming.StreamDedup.store(s"$store/exact"))) >= 2)
    assert(graft.streaming.StoreSink.fold(spark, Seq(graft.streaming.StreamNearDup.store(s"$store/sigs"))) >= 2)
    assert(StreamPrep.manifest(spark, store).count() == 13)
    assert(StreamPrep.keptIds(spark, store).as[Long].collect().toSet ==
      Set(1L, 3L, 6L, 7L, 11L))
    val q3 = StreamPrep.start(src, bw, store, cp)
    in.addData(14L -> good("alpha"), // exact dup of folded 1
      15L -> (good("epsilon") + " more"), // near-dup of folded 11
      16L -> good("zeta")) // fresh -> kept
    q3.processAllAvailable()
    q3.stop()
    val got2 = StreamPrep.manifest(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(14L) == "exact" && got2(15L) == "neardup" && got2(16L) == "kept",
      s"post-fold batch mis-screened: $got2")
  }

  test("streaming rollup twin: at-ingest state maintenance serves the batch chain's result") {
    import graft.operators.Rollup
    import graft.streaming.StreamRollup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sroll-store") + "/store"
    val cp = tmpDir("graft-sroll-cp")
    val in = MemoryStream[(Int, String, Double)]
    // (secondsIntoJan1, event_type, value) → an events-shaped frame
    def df = in.toDF().toDF("s", "event_type", "value")
      .select(expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,s)").as("ts"),
        col("event_type"), col("value"))

    val day = 86400
    val b1 = Seq((10, "click", 1.25), (20, "click", 2.75), (30, "view", 10.00))
    // batch 2 SPLITS day 1 across micro-batches (more clicks on day 1)
    // and opens day 2 — the partial-cut independence the algebra claims
    val b2 = Seq((40, "click", 4.00), (day + 5, "click", 8.50), (day + 6, "view", 0.50))
    val q1 = StreamRollup.start(df, store, cp)
    in.addData(b1: _*)
    q1.processAllAvailable()
    in.addData(b2: _*)
    q1.processAllAvailable()
    q1.stop()

    def rows(f: org.apache.spark.sql.DataFrame) =
      f.orderBy("event_type").collect().toSeq
    val batchTwin = { // the same events through the mv1 batch chain
      val all = (b1 ++ b2).toDF("s", "event_type", "value")
        .select(expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,s)").as("ts"),
          col("event_type"), col("value"))
      rows(Rollup.merge(Rollup.states(all)))
    }
    assert(rows(StreamRollup.serve(spark, store)) == batchTwin,
      "streamed state store diverges from the batch rollup")
    // the day split across two micro-batches must still count as ONE day
    val clickRow = StreamRollup.serve(spark, store)
      .filter(col("event_type") === "click").collect().head
    assert(clickRow.getLong(2) == 2L, s"n_days: ${clickRow.getLong(2)}")

    // restart on the same checkpoint: no reprocessing; a new batch extends
    val q2 = StreamRollup.start(df, store, cp)
    in.addData((day + 100, "click", 100.00))
    q2.processAllAvailable()
    q2.stop()
    val after = StreamRollup.serve(spark, store)
      .filter(col("event_type") === "click").collect().head
    assert(after.getLong(1) == 5L, s"click n after restart: ${after.getLong(1)}")
    assert(after.getDouble(5) == 100.0, s"click max after restart: ${after.getDouble(5)}")
  }

  test("streaming decontamination twin: at-ingest screen equals the batch d7b verdicts") {
    import graft.operators.TextOps
    import graft.streaming.StreamDecontam
    import graft.sources.Tables
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val store = tmpDir("graft-sdecon-store") + "/store"
    val cp = tmpDir("graft-sdecon-cp")
    // the same bench fixture the oracled batch query screens against,
    // materialized once before ingest starts
    val sp = Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bw = TextOps.d7bBenchWindows(TextOps.d7bBenchFixture(sp)).localCheckpoint()

    // replay the corpus as 3 ingest batches of whole documents
    val docs = Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q = StreamDecontam.start(df, bw, store, cp)
    for (chunk <- docs.grouped(60)) {
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("doc_id", "bench_id", "n_item_windows", "n_present", "overlap_ppm")
        .orderBy("doc_id", "bench_id").collect().toSeq
    val batch = rows(SparkEntry.queries("d7b_overlap_decontam")(spark, d))
    assert(batch.nonEmpty)
    assert(rows(StreamDecontam.serve(spark, store)) == batch,
      "at-ingest verdicts diverge from the batch decontamination sweep")

    // restart on the same checkpoint: a late contaminated doc (a
    // verbatim copy of bench item 0 — contains 100% of its windows)
    // is flagged in its own ingest batch, nothing is reprocessed
    val q2 = StreamDecontam.start(df, bw, store, cp)
    in.addData((777777L, docs.head._2))
    q2.processAllAvailable()
    q2.stop()
    val served = rows(StreamDecontam.serve(spark, store))
    val late = served.filter(_.getLong(0) == 777777L)
    assert(late.exists(r => r.getLong(1) == 0L && r.getLong(4) == 1000000L),
      s"late contaminated doc not flagged at full overlap: $late")
    assert(served.filterNot(_.getLong(0) == 777777L) == batch,
      "restart reprocessed or disturbed prior verdicts")
  }

  test("streaming decontamination twin: a steady batch does not recount the bench totals") {
    import graft.operators.TextOps
    import graft.streaming.StreamDecontam
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sdecon-steady") + "/store"
    val cp = tmpDir("graft-sdecon-steady-cp")
    val benchTokens = (1 to 12).map(i => s"bench$i").toSeq
    val bw = TextOps.d7bBenchWindows(Seq((7L, benchTokens)).toDF("bench_id", "bws"))
      .localCheckpoint()
    def docs(k: Int) = Seq(
      (10L * k, (benchTokens ++ Seq(s"tail$k")).mkString(" ")),
      (10L * k + 1, (1 to 12).map(i => s"w${k}x$i").mkString(" ")))
    // the streaming query runs its batches in a clone of the session,
    // which copies the listeners registered before it starts
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val steady = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (steady.get) plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val in = MemoryStream[(Long, String)]
    val q = StreamDecontam.start(in.toDF().toDF("doc_id", "text"), bw, store, cp)
    try {
      in.addData(docs(0): _*)
      q.processAllAvailable()
      org.apache.spark.graftshim.ListenerBus.drain(spark.sparkContext)
      steady.set(true)
      in.addData(docs(1): _*)
      q.processAllAvailable()
      org.apache.spark.graftshim.ListenerBus.drain(spark.sparkContext)
      steady.set(false)
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
    val aggs = plans.toArray(Array.empty[LogicalPlan]).toSeq
      .flatMap(_.collectWithSubqueries { case a: Aggregate => a })
    assert(aggs.nonEmpty, "the steady batch's screen plan was not captured")
    val totals = aggs.filter(_.groupingExpressions.flatMap(_.references.map(_.name)) ==
      Seq("bench_id"))
    assert(totals.isEmpty, s"a steady batch recounts the bench totals: $totals")
    val flagged = StreamDecontam.serve(spark, store).select("doc_id", "bench_id", "overlap_ppm")
      .as[(Long, Long, Long)].collect().toSet
    assert(flagged == Set((0L, 7L, 1000000L), (10L, 7L, 1000000L)), s"verdicts: $flagged")
  }

  test("sidecar folds: manifest/verdict/matches/drift dirs compact, readers unchanged, crash overlap absorbed") {
    import graft.operators.TextOps
    import graft.streaming.{StreamDedup, StreamPrep}
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sfold") + "/store"
    val cp = tmpDir("graft-sfold-cp")
    def good(p: String) = (1 to 10).map(i => s"the ${p}$i of").mkString(" ")
    val benchTokens = good("bench").split(" ").toSeq
    val contamText = (benchTokens.take(20) ++
      (1 to 10).map(i => s"the tail$i of").flatMap(_.split(" "))).mkString(" ")
    val bw = TextOps.d7bBenchWindows(
      Seq((1L, benchTokens)).toDF("bench_id", "bws")).localCheckpoint()
    val in = MemoryStream[(Long, String)]
    def src = in.toDF().toDF("doc_id", "text")
    val q = StreamPrep.start(src, bw, store, cp)
    // four batches so every family has >= 2 foldable dirs (the newest
    // is never folded); batch 3 re-sends doc 1's text under a new id
    // so the manifest carries a genuine CROSS-BATCH duplicate verdict
    // (same stage, same quality) that the fold's distinct must keep
    Seq(
      Seq(1L -> good("alpha"), 2L -> good("beta")),
      Seq(3L -> good("alpha"), 4L -> contamText), // exact dup + contaminated
      Seq(5L -> (good("beta") + " extra"), 6L -> good("gamma")), // neardup
      Seq(7L -> good("alpha")) // exact dup AGAIN: same-stage re-send
    ).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()

    def manifestRows() = StreamPrep.manifest(spark, store)
      .orderBy("doc_id", "stage").collect().toSeq
    def verdictRows() = StreamPrep.verdicts(spark, store)
      .orderBy("doc_id", "bench_id").collect().toSeq
    def matchRows() = graft.streaming.StreamNearDup.matches(spark, s"$store/sigs")
      .orderBy("doc_id", "matched_id").collect().toSeq
    val m0 = manifestRows(); val v0 = verdictRows(); val mt0 = matchRows()
    assert(m0.size == 7 && v0.size == 1 && mt0.size == 1)

    def dirNames(p: String) = {
      val base = new org.apache.hadoop.fs.Path(p)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(base)) Seq.empty[String]
      else fs.listStatus(base).toSeq.map(_.getPath.getName)
    }
    // stash a fold-covered manifest dir for the crash-contract replay
    val fsys = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(tmpDir("graft-sfold-stash"), "manifest_b0")
    org.apache.hadoop.fs.FileUtil.copy(fsys,
      new org.apache.hadoop.fs.Path(s"$store/manifest_b0"), fsys, stash, false,
      spark.sparkContext.hadoopConfiguration)

    assert(graft.streaming.StoreSink.fold(spark, StreamPrep.stores(store)) > 0)
    // per-batch dirs folded away: only the newest of each family remains
    assert(dirNames(store).count(_.matches("manifest_b\\d+")) == 1)
    assert(dirNames(store).count(_.matches("manifest_fold_0_\\d+")) == 1)
    assert(dirNames(s"$store/decontam").count(_.matches("verdicts_b\\d+")) == 1)
    assert(dirNames(s"$store/sigs").count(_.matches("matches_b\\d+")) == 1)
    // readers serve the identical rows from the compacted layout
    assert(manifestRows() == m0, "manifest changed across fold")
    assert(verdictRows() == v0, "verdicts changed across fold")
    assert(matchRows() == mt0, "matches changed across fold")
    // the cross-batch duplicate verdict survived the fold's distinct
    assert(manifestRows().count(r => r.getString(1) == "exact") == 2,
      "fold collapsed two distinct-batch re-send verdicts into one")

    // crash contract: restore a folded input next to the fold (a fold
    // whose input delete crashed) — overlap, never loss: same rows
    org.apache.hadoop.fs.FileUtil.copy(fsys, stash, fsys,
      new org.apache.hadoop.fs.Path(s"$store/manifest_b0"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(manifestRows() == m0, "crash overlap leaked duplicate manifest rows")
    // the next fold's resume path reclaims the superseded replay dir
    assert(graft.streaming.StoreSink.fold(spark, StreamPrep.stores(store).filter(_.dir == store)) == 0)
    assert(dirNames(store).count(_.matches("manifest_b\\d+")) == 1)
    assert(manifestRows() == m0)

    // post-fold ingest continues and the folded screens still screen
    val q2 = StreamPrep.start(src, bw, store, cp)
    in.addData(8L -> good("alpha"), 9L -> good("delta"))
    q2.processAllAvailable()
    q2.stop()
    val got = StreamPrep.manifest(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(8L) == "exact" && got(9L) == "kept", s"post-fold batch: $got")

    // drift sidecars: run a small StreamVec ingest over 3 batches, then
    // fold its store — drift_b* included — and hold driftLog
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val vstore = tmpDir("graft-sfold-vec") + "/store"
    val vcp = tmpDir("graft-sfold-vec-cp")
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val vin = MemoryStream[(Long, Option[Seq[Float]])]
    val vq = graft.streaming.StreamVec.start(
      vin.toDF().toDF("vec_id", "embedding"), books, vstore, vcp, baseline)
    rows.grouped((rows.size + 2) / 3).foreach { g =>
      vin.addData(g.map { case (id, v) => (id, Some(v)) }: _*)
      vq.processAllAvailable()
    }
    vq.stop()
    def driftRows() = graft.streaming.StreamVec.driftLog(spark, vstore)
      .orderBy("b").collect().toSeq
    val dl0 = driftRows()
    assert(dl0.size == 3)
    val servedPre = graft.streaming.StreamVec.codes(spark, vstore)
      .orderBy("vec_id").collect().toSeq
    assert(graft.streaming.StoreSink.fold(spark, Seq(graft.streaming.StreamVec.store(vstore))) > 0)
    assert(dirNames(vstore).count(_.matches("drift_b\\d+")) == 1)
    assert(dirNames(vstore).count(_.matches("drift_fold_0_\\d+")) == 1)
    assert(driftRows() == dl0, "driftLog changed across fold")
    assert(graft.streaming.StreamVec.codes(spark, vstore)
      .orderBy("vec_id").collect().toSeq == servedPre)
  }

  test("in-trigger fold cadence: foldEvery compacts the store as it ingests; serving unchanged") {
    import graft.streaming.StreamDedup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-cadence") + "/store"
    val cp = tmpDir("graft-cadence-cp")
    val in = MemoryStream[(Long, String)]
    // foldEvery = 2: folds fire in the triggers of batches 1, 3, 5 —
    // no manual maintenance call anywhere in this test
    val q = StreamDedup.start(in.toDF().toDF("doc_id", "text"),
      store, cp, foldEvery = 2)
    val batches = Seq(
      Seq(1L -> "alpha text", 2L -> "beta text"),
      Seq(3L -> "alpha text", 4L -> "gamma text"), // 3 = dup of 1
      Seq(5L -> "delta text"),
      Seq(6L -> "gamma text", 7L -> "epsilon text"), // 6 = dup of 4
      Seq(8L -> "zeta text"),
      Seq(9L -> "delta text", 10L -> "eta text")) // 9 = dup of 5
    batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val base = new org.apache.hadoop.fs.Path(store)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(base).map(_.getPath.getName).toSeq
    // batch-5's in-trigger fold covered everything but the newest
    // delta: one fold dir + exactly one live delta remain
    assert(names.count(_.matches("fold_0_\\d+")) == 1, s"dirs: $names")
    assert(names.count(_.matches("delta_b\\d+")) == 1, s"dirs: $names")
    assert(names.contains("fold_0_4"), s"dirs: $names")
    // the screen kept working across the in-trigger folds: dups of
    // folded state were rejected, everything else admitted once
    assert(StreamDedup.keptIds(spark, store).as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L, 7L, 8L, 10L))
  }

  test("codebook rotation: drift fires, rotate publishes an atomic cutover, recall recovers, rollback works") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-rot") + "/store"
    val cp = tmpDir("graft-rot-cp")
    val serveBase = tmpDir("graft-rot-serve") + "/serve"
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    // batch 0: in-distribution; batch 1: the planted accident — a NEW
    // encoder version re-embeds the SAME ids into an OFFSET range (a
    // un-centered activation, the classic embedding-v2 bug). The
    // reissue path's last-writer-wins makes the drifted version the
    // live one, so the whole live set is drifted. The offset is what
    // actually degrades RANKING (not just residual): the shifted cloud
    // sits in a corner of the old centroids' space, so argmin crams
    // every vector onto the same few centroids — ADC distances tie and
    // top-k decays toward tie-break order. (A pure scale-up would fire
    // the gate too but leave ranking intact: assignment still
    // discriminates by direction.)
    in.addData(rows.take(50).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    val drifted = rows.take(50).map { case (id, v) =>
      (id, v.map(_ + 1.5f))
    }
    in.addData(drifted.map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    q.stop()
    assert(StreamVec.driftLog(spark, store).filter(col("retrain")).count() == 1,
      "planted drift did not fire the gate")

    // the vectors' system of record after the re-embed
    val embAll = drifted.toDF("vec_id", "embedding").localCheckpoint()
    // pre-rotation serving snapshot = version 1 (the rollback target)
    StreamVec.publishServing(spark, serveBase, books,
      StreamVec.codes(spark, store), tag = "initial")
    val v1 = graft.sinks.VersionedStore.readPointer(spark, serveBase).get.version

    val newBooks = StreamVec.rotate(spark, store, embAll, serveBase)
    // the cutover serves the (new codebook, re-encoded codes) pair
    val sBooks = StreamVec.servedBooks(spark, serveBase)
    assert(sBooks.length == newBooks.length && sBooks.indices.forall(m =>
      sBooks(m).indices.forall(k => sBooks(m)(k).sameElements(newBooks(m)(k)))),
      "served codebook != rotation's codebook")
    graft.functions.NativeFunctions.register(spark)
    val served = StreamVec.servedCodes(spark, serveBase)
    assert(served.orderBy("vec_id").collect().toSeq ==
      VectorOps.encodeCodes(embAll, newBooks).orderBy("vec_id").collect().toSeq,
      "served codes != from-scratch encode under the new codebook")
    // post-rotation v10 (ADC) and v9 (IVF-PQ) serving == a from-scratch
    // build on the new codebook
    val qs = embAll.filter(col("vec_id") < 10)
    assert(VectorOps.adcSearch(spark, embAll, qs, 5, Some(newBooks), Some(served))
      .collect().toSeq ==
      VectorOps.adcSearch(spark, embAll, qs, 5, Some(newBooks), None)
        .collect().toSeq)
    assert(VectorOps.ivfServe(spark, embAll, qs, 10, Some(newBooks), Some(served))
      .collect().toSeq ==
      VectorOps.ivfServe(spark, embAll, qs, 10, Some(newBooks), None)
        .collect().toSeq)

    // recall RECOVERS for the drifted cohort: exact L2 top-5 (the
    // engine's own recall convention — v11's eval) vs the ADC top-5
    // under (old books, drifted store) and (new books, rotated store).
    // The OLD codebook was trained on unit-scale vectors, so it crams
    // the whole 4x cohort onto its outermost centroids — ADC can
    // barely tell drifted vectors apart.
    val vecs = embAll.as[(Long, Seq[Float])].collect().toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val qIds = qs.select("vec_id").as[Long].collect().toSeq
    val exactTop = qIds.map { qid =>
      qid -> vecs.filter(_._1 != qid).toSeq
        .map { case (id, v) => (l2(vecs(qid), v), id) }
        .sortBy { case (s, id) => (s, id) }.take(5).map(_._2).toSet
    }.toMap
    def recallOf(b: Array[Array[Array[Long]]], c: org.apache.spark.sql.DataFrame) = {
      val got = VectorOps.adcSearch(spark, embAll, qs, 5, Some(b), Some(c))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      qIds.map(q => exactTop(q).intersect(got.getOrElse(q, Set.empty)).size).sum
        .toDouble / (qIds.size * 5)
    }
    val recallOld = recallOf(books, StreamVec.codes(spark, store))
    val recallNew = recallOf(newBooks, served)
    assert(recallNew > recallOld,
      s"rotation did not recover recall: old $recallOld, new $recallNew")

    // rollback: one pointer flip back to the pre-rotation snapshot
    graft.sinks.VersionedStore.rollback(spark, serveBase, v1)
    val rbBooks = StreamVec.servedBooks(spark, serveBase)
    assert(rbBooks.indices.forall(m => rbBooks(m).indices.forall(k =>
      rbBooks(m)(k).sameElements(books(m)(k)))),
      "rollback did not restore the pre-rotation codebook")

    // a healthy store refuses rotation (force overrides)
    val healthy = tmpDir("graft-rot-healthy") + "/store"
    val hcp = tmpDir("graft-rot-healthy-cp")
    val hin = MemoryStream[(Long, Option[Seq[Float]])]
    val hq = StreamVec.start(hin.toDF().toDF("vec_id", "embedding"), books,
      healthy, hcp, baseline)
    hin.addData(rows.take(20).map { case (id, v) => (id, Some(v)) }: _*)
    hq.processAllAvailable()
    hq.stop()
    val ex = intercept[IllegalArgumentException] {
      StreamVec.rotate(spark, healthy, embAll, serveBase)
    }
    assert(ex.getMessage.contains("no retrain verdict"))
  }

  test("streaming ANN ingest: in-batch duplicates resolve to one deterministic winner, tombstone beats a same-trigger live row") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-svec-inb") + "/store"
    val cp = tmpDir("graft-svec-inb-cp")
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    val (xId, yId, zId) = (rows(0)._1, rows(1)._1, rows(2)._1)
    // ONE batch carrying every in-batch collision class: X re-embedded
    // TWICE (two different embeddings share one batch id — the
    // read-time max-b filter alone would serve both), Y sent alongside
    // its own tombstone (write racing its delete), Z a plain row
    in.addData(
      (xId, Some(rows(3)._2)), (xId, Some(rows(4)._2)),
      (yId, Some(rows(5)._2)), (yId, None),
      (zId, Some(rows(6)._2)))
    q.processAllAvailable()
    q.stop()
    val served = StreamVec.codes(spark, store)
    assert(served.filter(col("vec_id") === xId).count() == 1,
      "in-batch duplicate occupied two serving rows")
    // the surviving row is the DOCUMENTED deterministic pick — live
    // duplicates order by their code columns descending (codes are a
    // pure function of the embedding, so the pick is replay-stable)
    graft.functions.NativeFunctions.register(spark)
    val cands = VectorOps.encodeCodes(
        Seq((xId, rows(3)._2), (xId, rows(4)._2)).toDF("vec_id", "embedding"),
        books)
      .collect().map(r => (1 to VectorOps.PqM).map(r.getLong).toSeq).toSeq
    val expected = cands.sortWith { (a, b) =>
      val i = a.indices.find(ix => a(ix) != b(ix))
      i.exists(ix => a(ix) > b(ix))
    }.head
    val got = served.filter(col("vec_id") === xId).collect().head
    assert((1 to VectorOps.PqM).map(got.getLong) == expected,
      "in-batch winner is not the documented code-descending pick")
    // tombstone priority: Y's delete beats the live row sharing its
    // trigger — the id serves as DELETED until re-sent in a LATER batch
    assert(served.filter(col("vec_id") === yId).isEmpty,
      "tombstone lost to a same-batch live row")
    assert(served.filter(col("vec_id") === zId).count() == 1)
    assert(served.count() == 2)
    // the documented revive path: a later-trigger re-send serves again
    val q2 = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    in.addData((yId, Some(rows(5)._2)))
    q2.processAllAvailable()
    q2.stop()
    val revived = StreamVec.codes(spark, store)
    assert(revived.filter(col("vec_id") === yId).count() == 1,
      "later-batch re-send did not revive the tombstoned id")
    assert(revived.count() == 3)
  }

  test("rotation/ingest exclusion: rotate refuses while the ingest runs; stopped, rotated, the new-codebook world resumes ingesting") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-handoff") + "/store"
    val cp = tmpDir("graft-handoff-cp")
    val serveBase = tmpDir("graft-handoff-serve") + "/serve"
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    in.addData(rows.take(50).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    // the planted embedding-v2 accident (the rotation test's fixture):
    // the re-embedded live set drifts and the gate fires
    val drifted = rows.take(50).map { case (id, v) => (id, v.map(_ + 1.5f)) }
    in.addData(drifted.map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    assert(StreamVec.driftLog(spark, store).filter(col("retrain")).count() == 1,
      "planted drift did not fire the gate")
    val embAll = drifted.toDF("vec_id", "embedding").localCheckpoint()
    // EXCLUSION: the ingest query is still ACTIVE — rotate must refuse
    // loudly (a live trigger would keep appending old-codebook codes
    // invisible to the rotated serving snapshot)
    val ex = intercept[IllegalArgumentException] {
      StreamVec.rotate(spark, store, embAll, serveBase)
    }
    assert(ex.getMessage.contains("RUNNING ingest"))
    // drain/stop — the SAME call now succeeds
    q.stop()
    val newBooks = StreamVec.rotate(spark, store, embAll, serveBase)
    // HANDOFF: post-rotation ingest is a NEW store+checkpoint against
    // the NEW codebook with its OWN pinned baseline (the scaladoc's
    // drain→rotate→restart runbook, end to end)
    val store2 = tmpDir("graft-handoff2") + "/store"
    val cp2 = tmpDir("graft-handoff2-cp")
    val baseline2 = VectorOps.meanSqErr(spark, embAll, newBooks)
    val in2 = MemoryStream[(Long, Option[Seq[Float]])]
    val q2 = StreamVec.start(in2.toDF().toDF("vec_id", "embedding"), newBooks,
      store2, cp2, baseline2)
    // fresh vectors from the post-rotation (shifted) distribution
    val fresh = rows.slice(50, 70).map { case (id, v) => (id, v.map(_ + 1.5f)) }
    in2.addData(fresh.map { case (id, v) => (id, Some(v)) }: _*)
    q2.processAllAvailable()
    q2.stop()
    // in-distribution for the new codebook: the gate stays quiet
    assert(StreamVec.driftLog(spark, store2).filter(col("retrain")).isEmpty,
      "post-rotation ingest re-fired the drift gate on its own distribution")
    // combined serving (rotated snapshot + post-rotation deltas) equals
    // a from-scratch build over the full system of record
    graft.functions.NativeFunctions.register(spark)
    val combined = StreamVec.servedCodes(spark, serveBase)
      .unionByName(StreamVec.codes(spark, store2))
    val full = embAll.unionByName(fresh.toDF("vec_id", "embedding"))
    assert(combined.orderBy("vec_id").collect().toSeq ==
      VectorOps.encodeCodes(full, newBooks).orderBy("vec_id").collect().toSeq,
      "rotated-world serving != from-scratch build under the new codebook")
  }

  test("cross-JVM rotation exclusion: a fresh ingest heartbeat refuses rotate when the registry can't see the query") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    import org.apache.hadoop.fs.Path
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val store = tmpDir("graft-hb") + "/store"
    val cp = tmpDir("graft-hb-cp")
    val serveBase = tmpDir("graft-hb-serve") + "/serve"
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val in = MemoryStream[(Long, Option[Seq[Float]])]
    val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
      store, cp, baseline)
    // start() seeds the marker synchronously — liveness holds from
    // launch, before the first batch ever commits
    val hb = new Path(store, StreamVec.HeartbeatFile)
    val fs = hb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(hb), "start did not seed the ingest heartbeat")
    in.addData(rows.take(50).map { case (id, v) => (id, Some(v)) }: _*)
    q.processAllAvailable()
    // the marker names the run that writes it (content, not mtime)
    def writerOf() = StreamVec.readHeartbeat(spark, store).flatMap(_._1)
    assert(writerOf().contains(q.runId.toString),
      s"heartbeat writer ${writerOf()} is not the ingest run ${q.runId}")
    in.addData(rows.slice(50, 60).map { case (id, v) => (id, Some(v.map(_ + 1.5f))) }: _*)
    q.processAllAvailable()
    q.stop()
    Thread.sleep(1500) // drain the listener bus: no late event may overwrite the aged marker below
    // simulate the other-JVM view: the process-local registry has no
    // entry for this store, so the heartbeat is the only evidence —
    // and it is fresh, so rotate must refuse even though the query is
    // in fact stopped (the rotate side cannot know that)
    StreamVec.forgetIngest(store)
    val ex = intercept[IllegalArgumentException] {
      StreamVec.rotate(spark, store, emb.localCheckpoint(), serveBase, force = true)
    }
    assert(ex.getMessage.contains("heartbeat"), ex.getMessage)
    // age the marker past the staleness window — staleness reads the
    // WRITER's embedded wall-clock, so aging means rewriting the
    // timestamp (the file system's mtime no longer participates) — the
    // SAME call now proceeds (drain evidence by silence, the
    // documented contract)
    val aged = fs.create(hb, true)
    aged.write((s"${q.runId} " +
      s"${System.currentTimeMillis() - StreamVec.HeartbeatStaleMs - 1000L} " +
      "aged\n").getBytes("UTF-8"))
    aged.close()
    val newBooks = StreamVec.rotate(spark, store, emb.localCheckpoint(), serveBase, force = true)
    assert(newBooks.length == VectorOps.PqM, "stale-heartbeat rotate did not complete")
    // same-JVM contract unchanged: a registered-but-stopped query is
    // authoritative drain evidence — rotate proceeds immediately with
    // a FRESH heartbeat on a DIFFERENT store this JVM ingested into
    val store2 = tmpDir("graft-hb2") + "/store"
    val cp2 = tmpDir("graft-hb2-cp")
    val in2 = MemoryStream[(Long, Option[Seq[Float]])]
    val q2 = StreamVec.start(in2.toDF().toDF("vec_id", "embedding"), books,
      store2, cp2, baseline)
    in2.addData(rows.take(30).map { case (id, v) => (id, Some(v)) }: _*)
    q2.processAllAvailable()
    q2.stop()
    val serveBase2 = tmpDir("graft-hb2-serve") + "/serve"
    val books2 = StreamVec.rotate(spark, store2, emb.localCheckpoint(), serveBase2, force = true)
    assert(books2.length == VectorOps.PqM,
      "same-JVM stop -> rotate path started waiting on the heartbeat window")
  }

  test("idle-stream heartbeat: onQueryIdle keeps the marker fresh with no data; a stale registry entry cannot shadow a live remote ingest") {
    import graft.operators.VectorOps
    import graft.streaming.StreamVec
    import org.apache.hadoop.fs.Path
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val baseline = VectorOps.meanSqErr(spark, emb, books)
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val prevIdle = spark.conf.get("spark.sql.streaming.noDataProgressEventInterval", "10000")
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "300")
    try {
      val store = tmpDir("graft-idlehb") + "/store"
      val cp = tmpDir("graft-idlehb-cp")
      val serveBase = tmpDir("graft-idlehb-serve") + "/serve"
      val hb = new Path(store, StreamVec.HeartbeatFile)
      val fs = hb.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def hbTs(): Long = {
        // the listener overwrites in place — retry through the torn-
        // read window until a settled (runId, ts, tag) line appears
        var got: Option[Long] = None
        var n = 0
        while (got.isEmpty && n < 100) {
          val s = try {
            val in = fs.open(hb)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: java.io.IOException => "" }
          val t = s.trim.split("\\s+")
          if (t.length >= 2 && t(1).nonEmpty && t(1).forall(_.isDigit))
            got = Some(t(1).toLong)
          else { n += 1; Thread.sleep(50) }
        }
        got.getOrElse(sys.error("heartbeat stayed unreadable"))
      }
      def await(cond: => Boolean, why: String): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond && System.currentTimeMillis() - t0 < 30000) Thread.sleep(100)
        assert(cond, why)
      }
      val in = MemoryStream[(Long, Option[Seq[Float]])]
      val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books,
        store, cp, baseline)
      in.addData(rows.take(40).map { case (id, v) => (id, Some(v)) }: _*)
      q.processAllAvailable()
      // NO data from here on: only the periodic idle event can advance
      // the writer timestamp — the exact gap the data-path touch had
      // (triggers fire on data, so an idle-but-RUNNING stream went
      // stale and rotate fell back to the runbook contract)
      val t0 = hbTs()
      await(hbTs() > t0, "idle events did not refresh the heartbeat")
      // cross-JVM view against the idle-but-RUNNING ingest: the fresh
      // marker alone must refuse the rotate
      StreamVec.forgetIngest(store)
      val ex = intercept[IllegalArgumentException] {
        StreamVec.rotate(spark, store, emb.localCheckpoint(), serveBase, force = true)
      }
      assert(ex.getMessage.contains("heartbeat"), ex.getMessage)
      q.stop()
      // SHADOW pin (round-15 ADVICE): the registry holds a stopped
      // entry for store2 — under the old gate that entry skipped the
      // heartbeat check entirely, so a fresh heartbeat from a LIVE
      // ingest in another JVM was ignored and rotate proceeded under
      // it. Now the stopped entry vouches ONLY for heartbeats its own
      // run wrote.
      val store2 = tmpDir("graft-shadow") + "/store"
      val cp2 = tmpDir("graft-shadow-cp")
      val serveBase2 = tmpDir("graft-shadow-serve") + "/serve"
      val in2 = MemoryStream[(Long, Option[Seq[Float]])]
      val q2 = StreamVec.start(in2.toDF().toDF("vec_id", "embedding"), books,
        store2, cp2, baseline)
      in2.addData(rows.take(30).map { case (id, v) => (id, Some(v)) }: _*)
      q2.processAllAvailable()
      q2.stop()
      Thread.sleep(1500) // drain the listener bus: no event may overwrite the crafted markers below
      val hb2 = new Path(store2, StreamVec.HeartbeatFile)
      def write2(runId: String): Unit = {
        val out = fs.create(hb2, true)
        out.write(s"$runId ${System.currentTimeMillis()} crafted\n".getBytes("UTF-8"))
        out.close()
      }
      // a DIFFERENT run's fresh heartbeat: the stale stopped entry must
      // not shadow it — rotate refuses
      write2(java.util.UUID.randomUUID().toString)
      val ex2 = intercept[IllegalArgumentException] {
        StreamVec.rotate(spark, store2, emb.localCheckpoint(), serveBase2, force = true)
      }
      assert(ex2.getMessage.contains("heartbeat"), ex2.getMessage)
      // the stopped run's OWN fresh heartbeat: we watched it stop —
      // authoritative drain evidence, rotate proceeds immediately
      write2(q2.runId.toString)
      val newBooks = StreamVec.rotate(spark, store2, emb.localCheckpoint(), serveBase2, force = true)
      assert(newBooks.length == VectorOps.PqM, "vouched rotate did not complete")
    } finally {
      spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", prevIdle)
    }
  }

  test("streaming novelty: per-cohort verdicts match the batch recount across restart and fold") {
    import graft.streaming.StreamNovelty
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-snov-store") + "/store"
    val cp = tmpDir("graft-snov-cp")
    val in = MemoryStream[(Long, String)]
    def docsDf = in.toDF().toDF("doc_id", "text")
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    def win(s: String): Set[String] = {
      val ws = s.split(" ")
      if (ws.length < 8) Set.empty
      else ws.sliding(8).map(_.mkString(" ")).toSet
    }
    val (ta, tb, tc, td) = (words("a", 10), words("b", 10), words("c", 10), words("d", 10))

    val q1 = StreamNovelty.start(docsDf, store, cp)
    // b0: two fresh docs — everything is novel (1e6 ppm)
    in.addData((1L, ta), (2L, tb)); q1.processAllAvailable()
    // b1: a verbatim re-send + a fresh doc — exactly half the cohort's
    // distinct windows are new
    in.addData((3L, ta), (4L, tc)); q1.processAllAvailable()
    // b2: pure re-crawl — the novelty-collapse signal (0 ppm)
    in.addData((5L, ta)); q1.processAllAvailable()
    // b3: a sub-8-token doc contributes no windows (d21's convention)
    in.addData((6L, "short text")); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: the seen-set lives in the STORE
    val q2 = StreamNovelty.start(docsDf, store, cp)
    in.addData((7L, td), (8L, tb)); q2.processAllAvailable()
    q2.stop()

    // batch recount, d21's convention at cohort granularity: novel =
    // |cohort windows \ union of earlier cohorts'|
    val cohorts = Seq(
      (0L, 2L, Set(ta, tb)), (1L, 2L, Set(ta, tc)), (2L, 1L, Set(ta)),
      (3L, 1L, Set("short text")), (4L, 2L, Set(td, tb)))
    var seen = Set.empty[String]
    val expected = cohorts.map { case (b, nd, texts) =>
      val wins = texts.flatMap(win)
      val novel = wins.diff(seen)
      seen ++= wins
      val ppm = if (wins.isEmpty) 0L else 1000000L * novel.size / wins.size
      b -> ((nd, wins.size.toLong, novel.size.toLong, ppm))
    }.toMap
    def logMap = StreamNovelty.noveltyLog(spark, store).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(logMap == expected, s"verdicts ${logMap} != recount $expected")
    def seenCount = StreamNovelty.seenHashes(spark, store).count()
    assert(seenCount == seen.size, "store seen-set != distinct window recount")

    // fold both families: verdicts and the seen-set must be unchanged,
    // and the post-fold screen still recognizes folded history
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamNovelty.store(store))) >= 2)
    assert(logMap == expected, "fold changed the novelty log")
    assert(seenCount == seen.size, "fold changed the seen-set")
    val q3 = StreamNovelty.start(docsDf, store, cp)
    in.addData((9L, td)); q3.processAllAvailable()
    q3.stop()
    assert(logMap(5L) == ((1L, 3L, 0L, 0L)),
      s"post-fold re-crawl not recognized: ${logMap(5L)}")

    // a fresh checkpoint pointed at the owned store is refused
    val in2 = MemoryStream[(Long, String)]
    val q4 = StreamNovelty.start(in2.toDF().toDF("doc_id", "text"), store,
      tmpDir("graft-snov-cp2"))
    in2.addData((10L, ta))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).exists(_.getMessage != null) &&
      ex.getMessage.contains("belongs to streaming query"),
      s"fresh checkpoint not refused: ${ex.getMessage}")
    q4.stop()
  }

  test("streaming importance: at-ingest DSIR verdicts equal batch s10 across batch cuts, restart, and fold") {
    import graft.operators.CorpusPrep
    import graft.streaming.StreamImportance
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "source", "text")
    // the frozen fixture: pass-1 over the reference corpus, trained once
    val liftArr = CorpusPrep.dsirLiftArray(spark, docs, CorpusPrep.DsirTargetSources)
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    val store = tmpDir("graft-simp-store") + "/store"
    val cp = tmpDir("graft-simp-cp") + "/cp"
    val in = MemoryStream[(Long, String, String)]
    def df = in.toDF().toDF("doc_id", "source", "text")
    val q1 = StreamImportance.start(df, liftArr, store, cp)
    in.addData(rows.take(200): _*); q1.processAllAvailable()
    in.addData(rows.slice(200, 350): _*); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint — the remaining cohort lands as b2
    val q2 = StreamImportance.start(df, liftArr, store, cp)
    in.addData(rows.drop(350): _*); q2.processAllAvailable()
    q2.stop()
    def servedSet = StreamImportance.serve(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = SparkEntry.queries("s10_dsir_weights")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(servedSet == batch,
      "at-ingest verdicts != batch s10 on the same corpus (batch-cut dependence)")
    // the admission dial recounts: per-cohort doc/accept counts derive
    // from the batch verdicts of exactly the cohort's members (docs
    // with < 2 tokens emit no verdict row, s10's convention)
    val selOf = batch.map(t => t._1 -> t._5).toMap
    val expLog = Seq(rows.take(200), rows.slice(200, 350), rows.drop(350))
      .zipWithIndex.map { case (rs, b) =>
        val ids = rs.map(_._1).filter(selOf.contains)
        val nSel = ids.map(selOf).sum
        (b.toLong, ids.size.toLong, nSel, 1000000L * nSel / ids.size)
      }
    def logRows = StreamImportance.importanceLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(logRows == expLog, s"importance log $logRows != recount $expLog")
    // fold: serving and the dial are invariant under compaction
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamImportance.store(store))) >= 2)
    assert(servedSet == batch, "fold changed the served verdicts")
    assert(logRows == expLog, "fold changed the importance log")
  }

  test("streaming importance: a re-sent doc keeps one ledger row per cohort (batch-s10 equality needs once-ingested)") {
    // serve()'s distinct runs WITH the batch column — a doc genuinely
    // re-sent in a later batch is a new cohort member, not replay, so
    // the ledger holds BOTH rows and the dial recounts each cohort from
    // its own rows. This is the stated precondition on the batch-s10
    // equality claim: it holds for once-ingested corpora only.
    import graft.operators.CorpusPrep
    import graft.streaming.StreamImportance
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "source", "text")
    val liftArr = CorpusPrep.dsirLiftArray(spark, docs, CorpusPrep.DsirTargetSources)
    val rows = docs.filter(col("doc_id") < 25).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    val store = tmpDir("graft-simp-resend-store") + "/store"
    val cp = tmpDir("graft-simp-resend-cp") + "/cp"
    val in = MemoryStream[(Long, String, String)]
    val q = StreamImportance.start(
      in.toDF().toDF("doc_id", "source", "text"), liftArr, store, cp)
    in.addData(rows: _*); q.processAllAvailable()
    in.addData(rows.take(5): _*); q.processAllAvailable() // genuine re-send
    q.stop()
    // the one shared formula gives the expected per-doc verdict
    val verdict = CorpusPrep.dsirScore(
        spark.createDataFrame(rows).toDF("doc_id", "source", "text"), liftArr)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val resent = rows.take(5).map(_._1).filter(verdict.contains).toSet
    assert(resent.nonEmpty, "fixture must re-send at least one verdict-bearing doc")
    val served = StreamImportance.serve(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val perDoc = served.groupBy(_._1).view.mapValues(_.length).toMap
    for ((id, _) <- verdict)
      assert(perDoc(id) == (if (resent(id)) 2 else 1),
        s"doc $id: ${perDoc(id)} ledger rows (re-sent: ${resent(id)})")
    assert(served.toSet == verdict.values.toSet,
      "re-send changed verdict CONTENT (same doc must score identically in every cohort)")
    // the dial counts the re-send as its own cohort
    val log = StreamImportance.importanceLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(log == Map(0L -> verdict.size.toLong, 1L -> resent.size.toLong),
      s"per-cohort dial recount wrong: $log")
  }

  test("streaming packing: at-ingest manifest equals batch tok11 across batch cuts, restart, and fold") {
    import graft.streaming.StreamPacking
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val store = tmpDir("graft-spack-store") + "/store"
    val cp = tmpDir("graft-spack-cp") + "/cp"
    val in = MemoryStream[(Long, String)]
    def df = in.toDF().toDF("doc_id", "text")
    val q1 = StreamPacking.start(df, store, cp)
    in.addData(rows.take(150): _*); q1.processAllAvailable()
    in.addData(rows.slice(150, 300): _*); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint — the rest lands as b2
    val q2 = StreamPacking.start(df, store, cp)
    in.addData(rows.drop(300): _*); q2.processAllAvailable()
    q2.stop()
    def servedRows = StreamPacking.serve(spark, store).collect()
      .map(r => (0 until 10).map(r.getLong).toList).toList
    val batch = SparkEntry.queries("tok11_bestfit_packing")(spark, d).collect()
      .map(r => (0 until 10).map(r.getLong).toList).toList
    // BFD is histogram-determined (tok11's design note), so the
    // manifest is batch-cut independent: served == batch, row for row.
    // Precondition: once-ingested corpus (re-sends keep one ledger row
    // per cohort, same as StreamImportance — stated in the scaladoc).
    assert(servedRows == batch,
      "at-ingest packing manifest != batch tok11 on the same corpus (batch-cut dependence)")
    // the per-cohort dial recounts exactly its own rows
    val tokOf = rows.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).size.toLong
    }.toMap
    def expLog(rs: Seq[(Long, String)], b: Long) =
      (b, rs.count(r => tokOf(r._1) > 0).toLong)
    val log = StreamPacking.packingLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(log == Seq(expLog(rows.take(150), 0L), expLog(rows.slice(150, 300), 1L),
      expLog(rows.drop(300), 2L)), s"per-cohort dial recount wrong: $log")
    // fold: serving and the dial are invariant under compaction
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamPacking.store(store))) >= 2)
    assert(servedRows == batch, "fold changed the served manifest")
    val log2 = StreamPacking.packingLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(log2 == log, "fold changed the packing log")
  }

  test("at-ingest vocabulary: serve equals batch tok12 across batch cuts, restart, and fold; per-cohort dial recounts") {
    import graft.streaming.StreamVocab
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val store = tmpDir("graft-svoc-store") + "/store"
    val cp = tmpDir("graft-svoc-cp") + "/cp"
    val in = MemoryStream[(Long, String)]
    def df = in.toDF().toDF("doc_id", "text")
    val q1 = StreamVocab.start(df, store, cp)
    in.addData(rows.take(150): _*); q1.processAllAvailable()
    in.addData(rows.slice(150, 300): _*); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint — the rest lands as b2
    val q2 = StreamVocab.start(df, store, cp)
    in.addData(rows.drop(300): _*); q2.processAllAvailable()
    q2.stop()
    def servedRows = StreamVocab.serve(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    val batch = SparkEntry.queries("tok12_unigram_viterbi")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    // word counts are ADDITIVE, so the summed ledger equals the batch
    // word-frequency pass no matter the cuts; downstream is the same
    // single-sourced code path. Precondition: once-ingested corpus
    // (re-sends add their words again — stated in the scaladoc).
    assert(servedRows == batch,
      "at-ingest vocabulary report != batch tok12 on the same corpus (batch-cut dependence)")
    // the per-cohort dial recounts exactly its own rows
    def words(t: String) = "[a-z]+".r.findAllIn(t.toLowerCase).toList.filter(_.length <= 12)
    def expLog(rs: Seq[(Long, String)], b: Long) = {
      val ws = rs.flatMap(r => words(r._2))
      (b, ws.size.toLong, ws.distinct.size.toLong)
    }
    val log = StreamVocab.vocabLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(log == Seq(expLog(rows.take(150), 0L), expLog(rows.slice(150, 300), 1L),
      expLog(rows.drop(300), 2L)), s"per-cohort vocab dial recount wrong: $log")
    // fold: serving and the dial are invariant under compaction
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamVocab.store(store))) >= 2)
    assert(servedRows == batch, "fold changed the served report")
    val log2 = StreamVocab.vocabLog(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(log2 == log, "fold changed the vocab log")
  }

  test("streaming phash dedup: first-arrival keepers, in-batch winners, verdicts recount, restart and fold hold") {
    import graft.operators.Multimodal
    import graft.streaming.StreamPhash
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sph-store") + "/store"
    val cp = tmpDir("graft-sph-cp")
    // distinct content hashes -> distinct images; same h -> same bytes
    def png(id: Long, h: Long): (Long, Array[Byte]) =
      (id, Multimodal.encodePngBatch(Seq((id, h))).head.media)
    val in = MemoryStream[(Long, Array[Byte])]
    def mediaDf = in.toDF().toDF("doc_id", "media")

    val q1 = StreamPhash.start(mediaDf, store, cp)
    // b0: two distinct images + an in-batch duplicate of the first
    // (doc 3 re-encodes h=11's pixels) — the winner is min doc_id
    in.addData(png(1L, 11L), (3L, png(3L, 11L)._2), png(2L, 22L))
    q1.processAllAvailable()
    // b1: pure re-send of an already-kept image under a new doc_id
    in.addData((4L, png(4L, 11L)._2)); q1.processAllAvailable()
    // b2: one new image + one re-send — half the cohort is duplicate
    in.addData(png(5L, 33L), (6L, png(6L, 22L)._2)); q1.processAllAvailable()
    q1.stop()

    def keeperSet = StreamPhash.keepers(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keeperSet == Set(1L, 2L, 5L),
      s"keepers $keeperSet != first-arrival min-id winners")
    def logMap = StreamPhash.mediaLog(spark, store).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val expected = Map(
      0L -> ((3L, 2L, 2L, 1000000L / 3)), // 3 docs, 2 unique, 2 admitted
      1L -> ((1L, 1L, 0L, 1000000L)),     // full re-send: dup_ppm 1e6
      2L -> ((2L, 2L, 1L, 500000L)))      // half duplicate
    assert(logMap == expected, s"verdicts $logMap != recount $expected")

    // restart against the same checkpoint: a no-op for the store, and
    // the screen still recognizes all prior keepers
    val q2 = StreamPhash.start(mediaDf, store, cp)
    in.addData((7L, png(7L, 33L)._2)); q2.processAllAvailable()
    q2.stop()
    assert(keeperSet == Set(1L, 2L, 5L), "restart re-admitted a kept image")
    assert(logMap(3L) == ((1L, 1L, 0L, 1000000L)), s"post-restart verdict: ${logMap.get(3L)}")

    // fold both families: keepers and verdicts unchanged; the post-fold
    // screen recognizes folded history
    assert(graft.streaming.StoreSink.fold(spark, Seq(StreamPhash.store(store))) >= 2)
    assert(keeperSet == Set(1L, 2L, 5L), "fold changed the keeper set")
    assert(logMap == expected ++ Map(3L -> ((1L, 1L, 0L, 1000000L))),
      "fold changed the media log")
    val q3 = StreamPhash.start(mediaDf, store, cp)
    in.addData((8L, png(8L, 22L)._2), png(9L, 44L)); q3.processAllAvailable()
    q3.stop()
    assert(logMap(4L) == ((2L, 2L, 1L, 500000L)),
      s"post-fold re-send not recognized: ${logMap.get(4L)}")
    assert(keeperSet == Set(1L, 2L, 5L, 9L))

    // a fresh checkpoint pointed at the owned store is refused
    val in2 = MemoryStream[(Long, Array[Byte])]
    val q4 = StreamPhash.start(in2.toDF().toDF("doc_id", "media"), store,
      tmpDir("graft-sph-cp2"))
    in2.addData(png(10L, 55L))
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
    }
    assert(ex2.getMessage.contains("belongs to streaming query"),
      s"fresh checkpoint not refused: ${ex2.getMessage}")
    q4.stop()
  }

  /** One store-backed streaming module: its name, the batch-0 dir its
    * first batch writes, its stores under a store dir, and a one-batch
    * run (store dir, checkpoint dir).
    */
  private case class StoreModule(name: String, b0: String,
      stores: String => Seq[graft.streaming.StoreSink.Store],
      run: (String, String) => org.apache.spark.sql.streaming.StreamingQuery)

  /** Every store-backed `start`, each with one small batch queued. */
  private def storeModules(): Seq[StoreModule] = {
    import graft.operators.{Multimodal, TextOps, VectorOps}
    import graft.streaming._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val text = (1 to 12).map(i => s"word$i of").mkString(" ")
    val docs = Seq(1L -> text, 2L -> s"$text tail", 3L -> "a short doc")
    val bench = TextOps.d7bBenchWindows(
      Seq((1L, text.split(" ").toSeq)).toDF("bench_id", "bws")).localCheckpoint()
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val vecs = emb.as[(Long, Seq[Float])].take(20).toSeq.map { case (id, v) => (id, Option(v)) }
    val media = Multimodal.encodePngBatch(Seq((1L, 11L), (2L, 22L))).map(r => (r.doc_id, r.media))

    def docStream(start: DataFrame => StreamingQuery): StreamingQuery = {
      val in = MemoryStream[(Long, String)]
      val q = start(in.toDF().toDF("doc_id", "text"))
      in.addData(docs: _*); q
    }
    def eventStream(start: DataFrame => StreamingQuery): StreamingQuery = {
      val in = MemoryStream[(Long, String, Double)]
      val q = start(in.toDF().toDF("ms", "event_type", "value")
        .select(timestamp_millis(col("ms")).as("ts"), col("event_type"), col("value")))
      in.addData((1000L, "a", 1.5), (2000L, "b", 2.5)); q
    }
    def one(store: String => StoreSink.Store): String => Seq[StoreSink.Store] = s => Seq(store(s))
    Seq(
      StoreModule("StreamDedup", "delta_b0", one(StreamDedup.store),
        (s, c) => docStream(StreamDedup.start(_, s, c))),
      StoreModule("StreamNearDup", "delta_b0", one(StreamNearDup.store),
        (s, c) => docStream(StreamNearDup.start(_, s, c))),
      StoreModule("StreamNovelty", "delta_b0", one(StreamNovelty.store),
        (s, c) => docStream(StreamNovelty.start(_, s, c))),
      StoreModule("StreamPhash", "delta_b0", one(StreamPhash.store), (s, c) => {
        val in = MemoryStream[(Long, Array[Byte])]
        val q = StreamPhash.start(in.toDF().toDF("doc_id", "media"), s, c)
        in.addData(media: _*); q
      }),
      StoreModule("StreamPostings", "delta_b0", one(StreamPostings.store),
        (s, c) => docStream(StreamPostings.start(_, s, c))),
      StoreModule("StreamPosPostings", "delta_b0", one(StreamPosPostings.store),
        (s, c) => docStream(StreamPosPostings.start(_, s, c))),
      StoreModule("StreamPrep", "manifest_b0", StreamPrep.stores,
        (s, c) => docStream(StreamPrep.start(_, bench, s, c))),
      StoreModule("StreamVec", "delta_b0", one(StreamVec.store), (s, c) => {
        val in = MemoryStream[(Long, Option[Seq[Float]])]
        val q = StreamVec.start(in.toDF().toDF("vec_id", "embedding"), books, s, c, 1L)
        in.addData(vecs: _*); q
      }),
      StoreModule("StreamVocab", "wc_b0", one(StreamVocab.store),
        (s, c) => docStream(StreamVocab.start(_, s, c))),
      StoreModule("StreamPacking", "toks_b0", one(StreamPacking.store),
        (s, c) => docStream(StreamPacking.start(_, s, c))),
      StoreModule("StreamImportance", "verdicts_b0", one(StreamImportance.store), (s, c) => {
        val in = MemoryStream[(Long, String, String)]
        val q = StreamImportance.start(in.toDF().toDF("doc_id", "source", "text"),
          Array.fill(4096)(1L), s, c)
        in.addData(docs.map { case (id, t) => (id, "web", t) }: _*); q
      }),
      StoreModule("StreamDecontam", "verdicts_b0", one(StreamDecontam.store),
        (s, c) => docStream(StreamDecontam.start(_, bench, s, c))),
      StoreModule("StreamFreshness", "fresh_b0", one(StreamFreshness.store),
        (s, c) => eventStream(StreamFreshness.start(_, s, c))),
      StoreModule("StreamProfile", "profile_b0", one(StreamProfile.store),
        (s, c) => eventStream(StreamProfile.start(_, Seq("event_type", "value"), s, c))),
      StoreModule("StreamRollup", "states_b0", one(StreamRollup.store),
        (s, c) => eventStream(StreamRollup.start(_, s, c))))
  }

  /** A fresh checkpoint restarts batch ids at 0, so any run against a
    * store another checkpoint already wrote must be refused before its
    * first write. One case per store-backed `start`: ingest one batch
    * under cp1, then point a fresh cp2 at the same store.
    */
  test("every store-backed start refuses a fresh checkpoint over a used store, leaving its b0 dir intact") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    // (module, the batch-0 dir its first batch writes, one-batch run)
    val cases = storeModules().map(m => (m.name, m.b0, m.run))
    assert(cases.size == 15)

    for ((module, b0, run) <- cases) {
      val store = tmpDir(s"graft-own-$module") + "/store"
      val q1 = run(store, tmpDir(s"graft-own-$module-cp1"))
      q1.processAllAvailable()
      q1.stop()
      def b0Rows = spark.read.parquet(s"$store/$b0").collect().map(_.toString).sorted.toSeq
      val before = b0Rows
      assert(before.nonEmpty, s"$module: batch 0 wrote no rows to $b0")

      val q2 = run(store, tmpDir(s"graft-own-$module-cp2"))
      val ex = intercept[StreamingQueryException](q2.processAllAvailable())
      q2.stop()
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => Option(c.getMessage).exists(_.contains("belongs to streaming query"))),
        s"$module: fresh checkpoint not refused: $ex")
      assert(b0Rows == before, s"$module: the refused run changed $b0")
    }
  }

  /** A fold (or read) under a declared schema keeps only its columns, so
    * a declaration that lacks a column the writer writes would drop it
    * silently. One batch of every store-backed module: each family must
    * find its declared schema, names in order and types, in the footer
    * of its `_b0` part. Each `_b0` part is also one parquet file: a
    * batch's parts are small, and a part written straight from a
    * shuffle would otherwise hold a file per shuffle partition that
    * every later read of the store opens.
    */
  test("every declared family schema matches its writer: the b0 footer has the declared columns, in order, with the declared types") {
    import graft.streaming.StoreSink
    import org.apache.spark.sql.types.StructType
    def cols(t: StructType): Seq[(String, String)] =
      t.fields.map(f => f.name -> f.dataType.catalogString).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    var checked = 0
    for (m <- storeModules()) {
      val dir = tmpDir(s"graft-schema-${m.name}") + "/store"
      val q = m.run(dir, tmpDir(s"graft-schema-${m.name}-cp"))
      q.processAllAvailable()
      q.stop()
      for (store <- m.stores(dir); family <- store.families) {
        val b0 = StoreSink.parts(spark, store.dir, family).find(p => !p.isFold && p.id == 0)
        assert(b0.isDefined, s"${m.name}: no committed ${family.batchRe} part 0 under ${store.dir}")
        val footer = spark.read.parquet(b0.get.path.toString).schema
        assert(cols(footer) == cols(family.schema),
          s"${m.name} ${b0.get.path}: written ${cols(footer)}, declared ${cols(family.schema)}")
        val files = fs.listStatus(b0.get.path).map(_.getPath.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"${m.name} ${b0.get.path}: ${files.length} parquet files")
        checked += 1
      }
    }
    // Dedup 1, NearDup 2, Novelty 2, Phash 2, Postings 1, PosPostings 1,
    // Vec 2, Decontam 1, Prep 5 (its four stores), and one each for
    // Vocab, Packing, Importance, Freshness, Profile and Rollup
    assert(checked == 23)
  }

  test("StreamPrep claims every store it writes: root, exact/, sigs/ and decontam/ carry its marker, and a fresh checkpoint is refused") {
    import graft.operators.TextOps
    import graft.streaming.StreamPrep
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sc = spark.sqlContext
    val text = (1 to 12).map(i => s"word$i of").mkString(" ")
    val bench = TextOps.d7bBenchWindows(
      Seq((1L, text.split(" ").toSeq)).toDF("bench_id", "bws")).localCheckpoint()
    val store = tmpDir("graft-prep-claims") + "/store"
    def run(cp: String): org.apache.spark.sql.streaming.StreamingQuery = {
      val in = MemoryStream[(Long, String)]
      val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bench, store, cp)
      in.addData(1L -> text, 2L -> s"$text tail", 3L -> "a short doc"); q
    }
    val q1 = run(tmpDir("graft-prep-claims-cp1"))
    q1.processAllAvailable()
    q1.stop()
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subs = Seq("", "/exact", "/sigs", "/decontam")
    assert(subs.forall(sub => fs.exists(new Path(s"$store$sub/_QUERY_ID"))),
      s"unclaimed: ${subs.filterNot(sub => fs.exists(new Path(s"$store$sub/_QUERY_ID")))}")
    val b0s = Seq("manifest_b0", "decontam/verdicts_b0")
    def b0Rows = b0s.map(b0 =>
      spark.read.parquet(s"$store/$b0").collect().map(_.toString).sorted.toSeq)
    val before = b0Rows
    assert(before.forall(_.nonEmpty), s"batch 0 left an empty part: $before")

    val q2 = run(tmpDir("graft-prep-claims-cp2"))
    val ex = intercept[StreamingQueryException](q2.processAllAvailable())
    q2.stop()
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .exists(c => Option(c.getMessage).exists(_.contains("belongs to streaming query"))),
      s"fresh checkpoint not refused: $ex")
    assert(b0Rows == before, s"the refused run changed ${b0s.mkString(" or ")}")
  }

  test("ownership fallback: a marker-less store holding only a sidecar family refuses a fresh checkpoint") {
    import graft.streaming.{StreamNovelty, StreamVocab}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
    implicit val sc = spark.sqlContext
    val text = (1 to 12).map(i => s"word$i").mkString(" ")
    // a store written before ownership markers existed: committed parts
    // up to batch 3 of one family, and no `_QUERY_ID`
    val cases: Seq[(String, (DataFrame, String, String) => StreamingQuery)] = Seq(
      ("novelty", StreamNovelty.start(_, _, _)),
      ("wc", StreamVocab.start(_, _, _)))
    for ((prefix, start) <- cases) {
      val store = tmpDir(s"graft-own-fallback-$prefix") + "/store"
      Seq((3L, 1L)).toDF("b", "n").write.parquet(s"$store/${prefix}_b3")
      val in = MemoryStream[(Long, String)]
      val q = start(in.toDF().toDF("doc_id", "text"), store, tmpDir(s"graft-own-fallback-$prefix-cp"))
      in.addData(1L -> text)
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      q.stop()
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => Option(c.getMessage).exists(_.contains("no ownership marker"))),
        s"$prefix: a fresh checkpoint over ${prefix}_b3 was not refused: $ex")
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/${prefix}_b0")),
        s"$prefix: the refused run wrote ${prefix}_b0")
    }
  }

  test("store readers skip uncommitted parts: a states_b9 dir without _SUCCESS leaves StreamRollup.serve unchanged") {
    import graft.operators.Rollup
    import graft.streaming.StreamRollup
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-sroll-uncommitted") + "/store"
    val in = MemoryStream[(Long, String, Double)]
    def events(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ms", "event_type", "value")
        .select(timestamp_millis(col("ms")).as("ts"), col("event_type"), col("value"))
    val q = StreamRollup.start(events(in.toDF()), store, tmpDir("graft-sroll-uncommitted-cp"))
    in.addData((1000L, "click", 1.25), (2000L, "view", 10.0)); q.processAllAvailable()
    in.addData((3000L, "click", 2.75)); q.processAllAvailable()
    q.stop()
    def served = StreamRollup.serve(spark, store).orderBy("event_type").collect().toSeq
    val before = served

    // a write that crashed during job commit: a parquet part, no _SUCCESS
    Rollup.states(events(Seq((4000L, "click", 100.0), (5000L, "planted", 7.0)).toDF()))
      .coalesce(1).write.parquet(s"$store/states_b9")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$store/states_b9/_SUCCESS"), false))
    assert(served == before, "StreamRollup.serve read an uncommitted states dir")
    assert(StreamRollup.history(spark, store).count() == 3)
  }

  /** Every family declares its schema, so its readers serve a store that
    * has no committed part yet (a query that has not finished its first
    * batch) as an empty, typed frame, the same result the batch
    * operator gives on an empty corpus, instead of failing.
    */
  test("store readers over a store with no committed part return what an empty corpus gives") {
    import graft.operators.{CorpusPrep, Rollup}
    import graft.streaming._
    import org.apache.spark.sql.DataFrame
    val store = tmpDir("graft-empty-readers") + "/store"
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val events = Seq.empty[(java.sql.Timestamp, String, Double)].toDF("ts", "event_type", "value")
    def result(df: DataFrame) = (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
    val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("StreamVocab.serve", () => StreamVocab.serve(spark, store),
        () => CorpusPrep.unigramReport(CorpusPrep.unigramWordCounts(docs))),
      ("StreamPacking.serve", () => StreamPacking.serve(spark, store),
        () => CorpusPrep.bfdPackFrame(Seq.empty[Long].toDF("n"))),
      ("StreamImportance.serve", () => StreamImportance.serve(spark, store),
        () => CorpusPrep.dsirScore(docs, Array.fill(4096)(1L))),
      ("StreamFreshness.history", () => StreamFreshness.history(spark, store),
        () => StreamFreshness.batchMarks(events).withColumn("batch_id", lit(0L))),
      ("StreamProfile.history", () => StreamProfile.history(spark, store),
        () => StreamProfile.profile(events, Seq("event_type", "value"))
          .withColumn("batch_id", lit(0L)).limit(0)),
      ("StreamRollup.history", () => StreamRollup.history(spark, store),
        () => Rollup.states(events)),
      ("StreamRollup.serve", () => StreamRollup.serve(spark, store),
        () => Rollup.merge(Rollup.states(events))))
    val wrong = cases.flatMap { case (reader, read, expected) =>
      scala.util.Try(result(read())) match {
        case scala.util.Failure(e) => Some(s"$reader failed: ${e.getMessage}")
        case scala.util.Success(got) if got != result(expected()) =>
          Some(s"$reader gave $got, an empty corpus ${result(expected())}")
        case _ => None
      }
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
    assert(StreamFreshness.report(spark, store).isEmpty)
    assert(StreamProfile.drift(spark, store).isEmpty)
  }
}
