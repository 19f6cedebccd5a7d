package perfbench

import java.time.Instant
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.decode.DecodePipeline
import graft.functions.Ip
import graft.sources.UdpFlowSource
import graft.store.FlowStore
import graft.streaming.{Enrichment, FlowIngest, RateLimit}

/** `ingest`: an open loop over the flow write path. A separate generator
  * process replays the reference captures at a fixed offered flow rate
  * into a `graft-udp` source; the stream decodes, rate-limits, enriches and
  * fans every micro-batch into the five-table store. Freshness runs from a
  * datagram's due send time to the commit of the batch that carried it.
  */
object Ingest {

  /** Offered load, flows per second per core: well below the capacity the
    * write path shows on the reference machine (README.md).
    */
  val FlowsPerSecPerCore = 100.0
  val WarmupMs = 2000.0
  /** Set-ups per run. The first runs cold (4 to 6 s more than the rest)
    * and the second still warms; the median of five is a warm one.
    */
  val SetupReps = 5
  /** A run whose generator fell further behind its schedule than this is
    * invalid: its freshness would hide the generator's own delay.
    */
  val GeneratorLagBoundMs = 50.0

  /** One committed micro-batch: source offsets [start, end) and the
    * epoch-ms time its trigger finished (after the store fan-out and the
    * checkpoint commit).
    */
  final case class Committed(batchId: Long, start: Long, end: Long, commitMs: Double)

  def committed(p: StreamingQueryProgress): Option[Committed] = {
    val s = p.sources.headOption
    def off(j: String): Long = Option(j).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
    s.filter(_ => p.numInputRows > 0).map { src =>
      Committed(p.batchId, off(src.startOffset), off(src.endOffset),
        Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.durationMs.get("triggerExecution").longValue())
    }
  }

  /** The batch that committed source offset `offset`, by binary search
    * over batches ordered by offset; None if no batch covered it.
    */
  def batchOf(batches: IndexedSeq[Committed], offset: Long): Option[Committed] = {
    var lo = 0
    var hi = batches.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (batches(mid).end <= offset) lo = mid + 1 else hi = mid
    }
    if (lo < batches.length && batches(lo).start <= offset) Some(batches(lo)) else None
  }

  def run(ctx: Ctx, out: Out): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val exporters = ctx.nproc
    val rate = FlowsPerSecPerCore * ctx.nproc
    out.detail("offered_flows_per_s") = Json.num(rate)
    out.detail("exporters") = exporters.toString

    val metadata = Enrichment.MetadataDim(
      (for {
        k <- 0 until exporters
        i <- Replay.decoded.values.flatMap(_.interfaces).toSeq.distinct.sorted
      } yield (Ip.parse(s"127.0.0.${2 + k}"), i.toInt, s"edge$k", s"eth$i",
        s"if $i", 10000L, "transit", s"p${i % 3}", if (i % 2 == 0) "external" else "internal"))
        .toDF("exporter_addr", "if_index", "exporter_name", "if_name",
          "if_desc", "if_speed", "if_connectivity", "if_provider",
          "if_boundary"))
    // the reference's rate limiter at a budget no exporter reaches here:
    // its shuffle and compensation run, nothing is dropped
    def enrich(decoded: DataFrame): DataFrame = {
      val limited = RateLimit(decoded, limit = 1000000L, tickSec = 60L,
        col("ExporterAddress"), col("TimeReceived"), "SamplingRate",
        tiebreak = Seq(col("Bytes")))
      val named = limited.select(
        timestamp_seconds(col("TimeReceived")).as("TimeReceived"),
        col("SamplingRate"), col("ExporterAddress"),
        col("InIf").cast("int").as("InIfIndex"),
        col("OutIf").cast("int").as("OutIfIndex"),
        col("SrcAddr"), col("DstAddr"), col("SrcNetMask"), col("DstNetMask"),
        col("SrcAS"), col("DstAS"), col("EType"), col("Proto"),
        col("SrcPort"), col("DstPort"), col("ForwardingStatus"),
        col("TCPFlags"), col("Bytes"), col("Packets"))
      Enrichment.validated(
        Enrichment.withMetadata(named, metadata).drop("InIfIndex", "OutIfIndex"))
    }

    var templates = 0L // template datagrams sent to the live query's source
    def start(rep: Int): (StreamingQuery, String, String) = {
      val name = s"perfbench-ingest-$rep"
      val root = ctx.work.resolve(s"ingest-$rep").toString
      val envs = spark.readStream.format("graft-udp")
        .option("name", name)
        .option("decoder", "netflow")
        .option("timestampSource", "netflow-packet")
        .option("receiveBuffer", (8 << 20).toString)
        .load().as[DecodePipeline.RawEnvelope]
      val q = FlowIngest.start(DecodePipeline.observed(envs), new FlowStore(spark, root),
        checkpoint = s"$root/_checkpoint", enrich = enrich,
        trigger = Trigger.ProcessingTime(0L))
      (q, name, root)
    }

    def awaitPort(name: String): Int = {
      val deadline = System.currentTimeMillis() + 60000L
      while (UdpFlowSource.boundPort(name).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(5L)
      UdpFlowSource.boundPort(name).getOrElse(sys.error(s"source $name never bound"))
    }

    /** Sends, from every exporter, each family's templates (`data = false`)
      * or one data datagram of each family (`data = true`). Returns the
      * datagrams sent and the flows they carry, all and kept.
      */
    def announce(port: Int, data: Boolean): (Long, Long, Long) = {
      val target = new java.net.InetSocketAddress("127.0.0.1", port)
      var n, flows, kept = 0L
      (0 until exporters).foreach { k =>
        val ch = java.nio.channels.DatagramChannel.open()
        try {
          ch.bind(new java.net.InetSocketAddress(Replay.senderAddress(k), 0))
          val secs = System.currentTimeMillis() / 1000L
          Replay.families.foreach { f =>
            (if (data) Seq(f.data) else f.templates).zipWithIndex.foreach { case (t, i) =>
              ch.send(java.nio.ByteBuffer.wrap(Replay.rewrite(t, f, secs, i.toLong)), target)
              n += 1
            }
            if (data) {
              flows += Replay.decoded(f.id).flows
              kept += Replay.decoded(f.id).sampled
            }
          }
        } finally ch.close()
      }
      (n, flows, kept)
    }

    def awaitCommitted(q: StreamingQuery, offset: Long, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!q.recentProgress.flatMap(committed).exists(_.end >= offset) &&
          System.currentTimeMillis() < deadline) Thread.sleep(5L)
      require(q.recentProgress.flatMap(committed).exists(_.end >= offset),
        s"offset $offset not committed within $timeoutMs ms: " +
          q.recentProgress.map(_.json).mkString("\n") + q.exception)
    }

    // ---- set-up: start the stream on a fresh store and commit its
    // template batch, several times; the last query is the measured one
    val setups = mutable.ArrayBuffer.empty[Double]
    var live: (StreamingQuery, String, String) = null
    (0 until SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      val s = ctx.trace.span(s"setup-$rep", "setup") { _ =>
        val s = start(rep)
        val port = awaitPort(s._2)
        templates = announce(port, data = false)._1
        awaitCommitted(s._1, templates, 120000L)
        s
      }
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) s._1.stop() else live = s
    }
    val (q, name, root) = live
    val port = awaitPort(name)
    out.setup(setups.toSeq)
    // warm-up, untimed: one data batch through the whole write path
    val warm = announce(port, data = true)
    awaitCommitted(q, templates + warm._1, 120000L)
    val preGenerator = templates + warm._1

    // ---- the open loop
    val genStart = ctx.trace.nowMs() + 1500.0
    val windowStart = genStart + WarmupMs
    val windowEnd = windowStart + ctx.seconds * 1000.0
    val genLog = ctx.work.resolve("generator.log").toString
    val gen = ctx.launch("perfbench.Generator", Seq(port, exporters, rate,
      genStart, windowEnd, ctx.seed, genLog).map(_.toString))
    val backlog = mutable.ArrayBuffer.empty[Int]
    var cpu0 = 0.0
    var gc0 = 0L
    var cg0 = 0L
    var host0: Option[Double] = None
    var genCpu0 = 0.0
    def genCpuMs(): Double = gen.info().totalCpuDuration().map[Double](_.toNanos / 1e6)
      .orElse(0.0)
    while (ctx.trace.nowMs() < windowStart) Thread.sleep(1L)
    cpu0 = Meters.processCpuMs(); gc0 = Meters.gcMs(); cg0 = Meters.codegenCompiles()
    host0 = Meters.hostBusyMs(); genCpu0 = genCpuMs()
    val heap = new HeapPeak
    while (ctx.trace.nowMs() < windowEnd) {
      if (ctx.trace.enabled)
        UdpFlowSource.stats(name).foreach(s => backlog += s.buffered)
      Thread.sleep(20L)
    }
    val cpuMs = Meters.processCpuMs() - cpu0
    val gcMs = Meters.gcMs() - gc0
    val compiles = Meters.codegenCompiles() - cg0
    val extCpu = Meters.hostBusyMs().flatMap(h => host0.map(h - _ - cpuMs - (genCpuMs() - genCpu0)))
    require(gen.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), "generator did not stop")
    require(gen.exitValue() == 0, s"generator exited with ${gen.exitValue()}")
    val dgrams = Generator.readLog(genLog)
    val total = preGenerator + dgrams.length
    // drain: everything the socket took in is committed before checking
    val deadline = System.currentTimeMillis() + 30000L
    def received = UdpFlowSource.stats(name).map(s => s.packets + s.dropped).getOrElse(0L)
    while (received < total && System.currentTimeMillis() < deadline) Thread.sleep(10L)
    val stats = UdpFlowSource.stats(name).get
    q.processAllAvailable()
    ctx.probes.drain()
    val progress = q.recentProgress.toSeq
    val lastId = progress.filter(_.numInputRows > 0).map(_.batchId).max
    // the closing heap sample, while the stream still runs
    out.heap(heap)
    q.stop()

    // ---- attribution and the end-to-end numbers
    val batches = progress.flatMap(committed).sortBy(_.end).toIndexedSeq
    val measured = dgrams.zipWithIndex.filter { case (d, _) =>
      d.dueMs >= windowStart && d.dueMs < windowEnd }
    val fresh = measured.flatMap { case (d, j) =>
      batchOf(batches, preGenerator + j).map(b => b.commitMs - d.dueMs) }
    val measuredFlows = measured.map(_._1.flows.toLong).sum
    // the rate at which the window's flows became visible: up to the commit
    // of its last datagram
    val lastCommit = measured.flatMap { case (_, j) => batchOf(batches, preGenerator + j) }
      .map(_.commitMs).maxOption.getOrElse(windowEnd)
    val lag = dgrams.map(d => d.sentMs - d.dueMs)
    out.attempted = measured.length.toLong
    out.failed = (measured.length - fresh.length).toLong
    out.latencies("freshness", "ms", fresh)
    out.e2e("latency_p50_ms", Stats.median(fresh), "ms")
    out.detail("flows_committed_per_s") = Json.num(measuredFlows / ((lastCommit - windowStart) / 1000.0))
    out.e2e("cpu_ms_per_op", cpuMs / (measuredFlows / 1000.0), "ms")
    out.detail("op") = Json.str("1000 flows offered in the window")
    out.noise(extCpu)
    out.jvm(gcMs, compiles)

    // ---- output checks
    val kernelLost = total - (stats.packets + stats.dropped)
    out.check("no datagram lost in the kernel or the source buffer",
      kernelLost == 0 && stats.dropped == 0, s"kernel_lost=$kernelLost dropped=${stats.dropped}")
    val genLagP99 = Stats.percentile(lag, 0.99)
    out.check(s"generator lag p99 within $GeneratorLagBoundMs ms",
      genLagP99 <= GeneratorLagBoundMs, f"lag_p99=$genLagP99%.2f ms")
    val store = new FlowStore(spark, root)
    val rows = store.read("flows").count()
    val sentFlows = warm._2 + dgrams.map(_.flows.toLong).sum
    val keptFlows = warm._3 + dgrams.map(d => Replay.decoded(d.family).sampled.toLong).sum
    val decodeObs = progress.flatMap(p => Option(p.observedMetrics).flatMap(m => Option(m.get("decode"))))
      .map(r => r.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) => f -> r.getLong(i) })
      .flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val enrichObs = ctx.probes.observedFor(s"$root/flows", "enrichment")
    val metaObs = ctx.probes.observedFor(s"$root/flows", "metadata")
    val counted = Seq("dropped_sampling", "dropped_empty").map(enrichObs.getOrElse(_, 0L)).sum +
      metaObs.getOrElse("dropped_no_interface", 0L) +
      decodeObs.filter(_._1.startsWith("dropped_")).values.sum
    out.check("flows rows = flows sent - counted drops",
      rows == sentFlows - counted && rows == keptFlows,
      s"rows=$rows sent=$sentFlows counted_drops=$counted expected=$keptFlows")
    def sums(t: String) = store.read(t).agg(sum("Bytes"), sum("Packets")).collect()(0)
    val main = sums("flows")
    Seq("flows_1m", "flows_5m", "flows_1h").foreach { t =>
      val r = sums(t)
      out.check(s"$t sums equal flows", r == main, s"$t=$r flows=$main")
    }
    Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters").foreach { t =>
      out.check(s"$t committed the last batch", store.lastCommitted(t) == lastId,
        s"$t=${store.lastCommitted(t)} last=$lastId")
    }

    // ---- per-layer numbers (traced run)
    if (ctx.trace.enabled) {
      val measuredBatches = progress.filter(p => p.numInputRows > 0 &&
        Instant.parse(p.timestamp).toEpochMilli >= windowStart &&
        Instant.parse(p.timestamp).toEpochMilli < windowEnd)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
      def p50(f: StreamingQueryProgress => Double): Double =
        if (measuredBatches.isEmpty) 0.0 else Stats.median(measuredBatches.map(f))
      out.layer("sources.udp_received", stats.packets.toDouble, "count")
      out.layer("sources.udp_dropped", stats.dropped.toDouble, "count")
      out.layer("sources.kernel_lost", kernelLost.toDouble, "count")
      out.layer("sources.backlog_p99", if (backlog.isEmpty) 0.0
        else Stats.percentile(backlog.map(_.toDouble).toSeq, 0.99), "datagrams")
      out.layer("sources.generator_lag_p99_ms", genLagP99, "ms")
      out.layer("streaming.trigger_ms_p50", p50(dur(_, "triggerExecution")), "ms")
      out.layer("streaming.add_batch_ms_p50", p50(dur(_, "addBatch")), "ms")
      out.layer("streaming.planning_ms_p50", p50(dur(_, "queryPlanning")), "ms")
      out.layer("streaming.commit_ms_p50", p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
      out.layer("streaming.rows_per_batch_p50", p50(_.numInputRows.toDouble), "datagrams")
      def state(p: StreamingQueryProgress) = p.stateOperators.headOption
      out.layer("decode.state_update_ms", p50(p => state(p).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)), "ms")
      out.layer("decode.state_commit_ms", p50(p => state(p).map(_.commitTimeMs.toDouble).getOrElse(0.0)), "ms")
      out.layer("decode.state_rows", progress.lastOption.flatMap(state).map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      out.layer("decode.state_bytes", progress.lastOption.flatMap(state).map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
      out.layer("decode.flows", decodeObs.getOrElse("flows", 0L).toDouble, "count")
      DecodePipeline.Drop.all.foreach(c =>
        out.layer(s"decode.drops.$c", decodeObs.getOrElse(s"dropped_$c", 0L).toDouble, "count"))
      out.layer("enrichment.dropped_no_interface", metaObs.getOrElse("dropped_no_interface", 0L).toDouble, "count")
      out.layer("enrichment.dropped_sampling", enrichObs.getOrElse("dropped_sampling", 0L).toDouble, "count")
      out.layer("enrichment.dropped_empty", enrichObs.getOrElse("dropped_empty", 0L).toDouble, "count")
      out.layer("ratelimit.shuffle_bytes_per_flow",
        ctx.probes.exchangeBytes(s"$root/flows", "__tick").toDouble / math.max(1L, sentFlows), "bytes")
      // store writes per table, over the batches that wrote; a write's
      // jobs carry its SQL execution id
      val writes = ctx.probes.qes.filter(_.write.exists(_.path.startsWith(root)))
      val jobs = ctx.probes.jobs
      val execs = ctx.probes.executions.map(e => e._1 -> e).toMap
      Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters").foreach { t =>
        val w = writes.filter(_.write.get.table == t)
        val n = math.max(1, w.length).toDouble
        val ids = w.map(_.executionId).toSet
        out.layer(s"store.write_ms_per_batch.$t", w.map(_.durMs).sum / n, "ms")
        out.layer(s"store.jobs_per_batch.$t", jobs.count(j => ids(j.executionId)) / n, "count")
        out.layer(s"store.files_written_per_batch.$t", w.map(_.write.get.files).sum / n, "count")
        out.layer(s"store.bytes_written_per_flow.$t",
          w.map(_.write.get.bytes).sum.toDouble / math.max(1L, rows), "bytes")
      }
      // spans: one per trigger, its phases laid out in execution order,
      // the store writes inside addBatch: the SQL executions of the writes
      // whose jobs ran in that micro-batch
      val batchOfExec = jobs.filter(_.batchId >= 0).map(j => j.executionId -> j.batchId).toMap
      val phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
        "getBatch" -> "sources", "queryPlanning" -> "streaming",
        "addBatch" -> "store", "commitOffsets" -> "streaming")
      val triggers = progress.filter(_.numInputRows > 0).map { p =>
        val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val root = Span(ctx.trace.nextId(), 0L, s"trigger-${p.batchId}", "streaming",
          t0, t0 + dur(p, "triggerExecution"))
        ctx.trace.add(root)
        var at = t0
        phases.foreach { case (k, layer) =>
          val d = dur(p, k)
          if (d > 0) {
            val s = Span(ctx.trace.nextId(), root.id, k, layer, at, at + d)
            ctx.trace.add(s)
            if (k == "addBatch")
              writes.filter(w => batchOfExec.get(w.executionId).contains(p.batchId))
                .flatMap(w => execs.get(w.executionId).map(w -> _))
                .foreach { case (w, (_, x0, x1)) => ctx.trace.add(Span(ctx.trace.nextId(),
                  s.id, s"write-${w.write.get.table}", "store", x0, x1)) }
            at += d
          }
        }
        root
      }
      out.layer("trace.coverage", Tracer.coverage(ctx.trace.spans, triggers), "ratio")
      // the read path, on a store of its own, after the ingest window
      Console.run(ctx, out)
      out.selfTimes(ctx.trace)
    }
  }
}
