package graft.observe

import java.nio.charset.StandardCharsets.UTF_8

/** Prometheus exposition of the [[Metrics]] ring buffers — the missing
  * half of the reference's operational contract: its prometheus.yml
  * scrapes a metrics endpoint (reference prometheus.yml:4-24 plus the
  * monitoring yml dashboards); round 3 captured the per-query signal
  * in-process but nothing served it. Two standard export shapes, both
  * dependency-free:
  *
  *  - [[serve]]: a JDK-built-in HTTP server answering `GET /metrics`
  *    with text exposition format 0.0.4 — point a Prometheus
  *    `scrape_config` at it directly.
  *  - [[writeTextfile]]: the node-exporter textfile-collector pattern
  *    (atomic tmp+rename, so the collector never reads a torn file) —
  *    for deployments where the driver can't open a port.
  *
  * Rendering aggregates the bounded ring buffers into proper counter /
  * gauge families rather than dumping raw events: totals are summed
  * over the window per label, `last_*` gauges take the newest event —
  * the same shapes the reference's Grafana panels graph (rows/s,
  * trigger latency, failure count).
  */
object Prometheus {

  /** Escape a label value per the exposition format: backslash, double
    * quote, and newline must be backslash-escaped.
    */
  private[graft] def escapeLabel(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** Render the current [[Metrics]] snapshots in Prometheus text
    * exposition format 0.0.4. Pure function of the buffers — callable
    * from any exporter (HTTP, textfile, a test).
    */
  def render(): String = {
    val sb = new StringBuilder
    def family(name: String, typ: String, help: String)(
        rows: Seq[(String, Double)]): Unit = {
      sb ++= s"# HELP $name $help\n# TYPE $name $typ\n"
      rows.foreach { case (labels, v) => sb ++= s"$name$labels ${fmt(v)}\n" }
    }
    def q(name: String) = s"""{query="${escapeLabel(name)}"}"""

    val byQuery = Metrics.streamSnapshot.groupBy(_.queryName).toSeq.sortBy(_._1)
    family("graft_stream_batches_total", "counter",
      "Micro-batches observed per streaming query (bounded window).")(
      byQuery.map { case (n, es) => q(n) -> es.size.toDouble })
    family("graft_stream_input_rows_total", "counter",
      "Input rows observed per streaming query (bounded window).")(
      byQuery.map { case (n, es) => q(n) -> es.map(_.numInputRows).sum.toDouble })
    family("graft_stream_last_trigger_duration_ms", "gauge",
      "Trigger latency of the most recent micro-batch.")(
      byQuery.map { case (n, es) => q(n) -> es.last.triggerDurationMs.toDouble })
    family("graft_stream_last_processed_rows_per_second", "gauge",
      "Processing rate of the most recent micro-batch.")(
      byQuery.map { case (n, es) => q(n) -> es.last.processedRowsPerSecond })

    val batch = Metrics.batchSnapshot
    val byAction = batch.filterNot(_.failed).groupBy(_.action).toSeq.sortBy(_._1)
    family("graft_batch_actions_total", "counter",
      "Successful batch actions per action name (bounded window).")(
      byAction.map { case (a, es) =>
        s"""{action="${escapeLabel(a)}"}""" -> es.size.toDouble })
    family("graft_batch_action_duration_ms_sum", "counter",
      "Summed wall-clock of successful batch actions (bounded window).")(
      byAction.map { case (a, es) =>
        s"""{action="${escapeLabel(a)}"}""" -> es.map(_.durationMs).sum.toDouble })
    family("graft_batch_failures_total", "counter",
      "Failed batch actions (bounded window).")(
      Seq("" -> batch.count(_.failed).toDouble))
    // JVM-wide Janino compiles; a count that keeps rising under a
    // repeating workload means the generated-class cache is thrashing
    // (see Sessions.CodegenCacheMaxEntries)
    family("graft_codegen_compiles_total", "counter",
      "Generated classes compiled by this JVM (codegen cache misses).")(
      Seq("" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble))
    // a streaming screen re-run because a store part it had listed was
    // deleted under it; a rising count means a fold is racing a reader
    family("graft_store_read_retries_total", "counter",
      "Store screens re-run after a listed part vanished (StreamDedup.withStoreRetry).")(
      Seq("" -> graft.streaming.StreamDedup.storeReadRetries.toDouble))
    sb.result()
  }

  /** Serve `GET /metrics` on `port` (0 = ephemeral; read the bound port
    * off the returned server). Single-threaded executor — a scrape every
    * 15 s does not need more. Caller owns shutdown: `server.stop(0)`.
    */
  def serve(port: Int = 9091): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/metrics", { exchange =>
      val body = render().getBytes(UTF_8)
      exchange.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length.toLong)
      try exchange.getResponseBody.write(body) finally exchange.close()
    })
    server.start()
    server
  }

  /** Write the exposition to `path` atomically (tmp + same-directory
    * rename) — the node-exporter textfile-collector contract, which
    * requires the collector never observe a partially-written file.
    */
  def writeTextfile(path: String): Unit = {
    val target = java.nio.file.Paths.get(path)
    val dir = Option(target.getParent).getOrElse(java.nio.file.Paths.get("."))
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.tmp")
    java.nio.file.Files.write(tmp, render().getBytes(UTF_8))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
