package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload gets to run with. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Tracer, probes: Probes, work: Path, nproc: Int, out: Out) {

  /** Starts a helper JVM on this process's classpath; its output goes to
    * files in the work directory.
    */
  def launch(mainClass: String, args: Seq[String]): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder((Seq(java, "-Xmx256m", "-XX:-UsePerfData",
      "-Djava.io.tmpdir=" + System.getProperty("java.io.tmpdir"), "-cp",
      System.getProperty("java.class.path"), mainClass) ++ args): _*)
    pb.redirectOutput(work.resolve(s"$mainClass.out").toFile)
    pb.redirectError(work.resolve(s"$mainClass.err").toFile)
    val p = pb.start()
    Main.children += p
    p
  }
}

/** Everything a run reports: the end-to-end metrics, the per-layer metrics,
  * the output checks and the descriptive detail.
  */
final class Out {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)

  def check(name: String, ok: Boolean, info: String): Unit = {
    checks += ((name, ok, info))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name: $info")
  }

  /** Set-up time: the median of the repetitions, each one kept in detail. */
  def setup(samples: Seq[Double]): Unit = {
    e2e("setup_s", Stats.median(samples), "s")
    detail("setup_samples_s") = samples.map(Json.num).mkString("[", ",", "]")
  }

  /** `heap_peak_mb`: the largest of `peak`'s samples, the closing one
    * taken now, while the measured work is still held.
    */
  def heap(peak: HeapPeak): Unit = {
    val samples = peak.stop()
    e2e("heap_peak_mb", samples.max, "MB")
    detail("heap_collections") = (samples.length - 1).toString
    detail("heap_after_full_gc_mb") = Json.num(samples.last)
  }

  /** Median, highest supported percentile and sample count of a latency. */
  def latencies(name: String, unit: String, xs: Seq[Double]): Unit = {
    val tail = Stats.supportedPercentile(xs.length)
    detail(name) = Json.obj(Seq("unit" -> Json.str(unit), "n" -> xs.length.toString,
      "p50" -> (if (xs.isEmpty) "null" else Json.num(Stats.median(xs)))) ++
      tail.map(q => Stats.label(q) -> Json.num(Stats.percentile(xs, q))))
  }

  def noise(extCpuMs: Option[Double]): Unit =
    detail("ext_cpu_ms") = extCpuMs.map(Json.num).getOrElse("null")

  def jvm(gcMs: Long, compiles: Long): Unit = {
    layer("jvm.gc_ms", gcMs.toDouble, "ms")
    layer("jvm.codegen_compiles", compiles.toDouble, "count")
  }

  /** Span count and per-layer self times of everything traced. */
  def selfTimes(trace: Tracer): Unit = {
    val spans = trace.spans
    layer("trace.spans", spans.length.toDouble, "count")
    val self = Tracer.selfTimes(spans)
    Main.SelfLayers.foreach(l => layer(s"self_ms.$l", self.getOrElse(l, 0.0), "ms"))
  }
}

object Main {
  val children = mutable.ArrayBuffer.empty[Process]

  /** Layers self times are reported for. */
  val SelfLayers = Seq("sources", "streaming", "store", "api", "queryengine",
    "dedup", "spark")

  val EndToEnd = Seq("setup_s" -> "s", "heap_peak_mb" -> "MB",
    "latency_p50_ms" -> "ms", "cpu_ms_per_op" -> "ms")

  /** Every per-layer metric a traced run reports, with its unit; a layer
    * the workload leaves idle reports 0.
    */
  val PerLayer: Seq[(String, String)] = {
    val tables = Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters")
    Seq("sources.udp_received" -> "count", "sources.udp_dropped" -> "count",
      "sources.kernel_lost" -> "count", "sources.backlog_p99" -> "datagrams",
      "sources.generator_lag_p99_ms" -> "ms",
      "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
      "streaming.planning_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
      "streaming.rows_per_batch_p50" -> "datagrams",
      "ratelimit.shuffle_bytes_per_flow" -> "bytes",
      "enrichment.dropped_no_interface" -> "count",
      "enrichment.dropped_sampling" -> "count",
      "enrichment.dropped_empty" -> "count",
      "decode.state_update_ms" -> "ms", "decode.state_commit_ms" -> "ms",
      "decode.state_rows" -> "count", "decode.state_bytes" -> "bytes",
      "decode.flows" -> "count") ++
      graft.decode.DecodePipeline.Drop.all.map(c => s"decode.drops.$c" -> "count") ++
      tables.flatMap(t => Seq(s"store.write_ms_per_batch.$t" -> "ms",
        s"store.jobs_per_batch.$t" -> "count",
        s"store.files_written_per_batch.$t" -> "count",
        s"store.bytes_written_per_flow.$t" -> "bytes")) ++
      Seq("store.files_read_per_request" -> "count",
        "store.bytes_read_per_request" -> "bytes",
        "store.partitions_read_per_request" -> "count",
        "filter.compile_us_p50" -> "us",
        "queryengine.jobs_per_request" -> "count",
        "queryengine.plan_ms_p50" -> "ms", "queryengine.exec_ms_p50" -> "ms") ++
      tables.take(4).map(t => s"queryengine.table_share.$t" -> "ratio") ++
      Seq("api.cache_hit_ratio" -> "ratio") ++
      Seq("line", "sankey", "widget", "filter").map(k => s"api.latency_p50_ms.$k" -> "ms") ++
      Seq("api.server_busy_share" -> "ratio",
        "release.front" -> "code", "dedup.jobs_per_batch" -> "count",
        "dedup.shuffle_bytes_per_batch" -> "bytes",
        "dedup.scored_rows_per_batch" -> "count",
        "dedup.useful_pair_ratio" -> "ratio", "store.compact_ms" -> "ms",
        "dedup.products_jobs" -> "count", "release.products_ms" -> "ms",
        "jvm.gc_ms" -> "ms", "jvm.codegen_compiles" -> "count",
        "trace.coverage" -> "ratio", "trace.coverage.console" -> "ratio",
        "trace.spans" -> "count") ++
      SelfLayers.map(l => s"self_ms.$l" -> "ms") ++
      EndToEnd.filter(_._1 != "setup_s").map { case (n, u) => s"traced.$n" -> u }
  }

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest" -> (c => Ingest.run(c, c.out)),
    "release" -> (c => Release.run(c, c.out)))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload " +
      s"<${Workloads.keys.toSeq.sorted.mkString("|")}> --seed <n> --seconds <n> " +
      "--trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("missing --workload"))
    val run = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(usage("missing --seed"))
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(usage("missing --seconds"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", usage("missing --work"))).toAbsolutePath
    // a run starts from nothing: a leftover checkpoint would resume an old stream
    if (Files.exists(work)) Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()

    // Bench's session: local[nproc], one shuffle partition per core, UTC,
    // the raw local filesystem
    val config = Seq(
      "spark.master" -> s"local[$nproc]",
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
      "spark.ui.enabled" -> "false",
      // the status store's job, stage, task and SQL history has no reader
      // without the UI; bounded small, its growth stays out of the heap
      // figure
      "spark.ui.retainedJobs" -> "50", "spark.ui.retainedStages" -> "50",
      "spark.ui.retainedTasks" -> "1000", "spark.sql.ui.retainedExecutions" -> "20",
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    val spark = config.foldLeft(SparkSession.builder().appName(s"perfbench-$workload")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)

    val out = new Out
    val tracer = new Tracer(traced)
    val probes = new Probes(spark, traced)
    val ctx = Ctx(spark, seed, seconds, tracer, probes, work, nproc, out)
    val ok = try { run(ctx); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed:")
        e.printStackTrace()
        false
    } finally {
      children.foreach { p => p.destroy(); p.waitFor() }
    }
    if (!ok) { spark.stop(); sys.exit(1) }

    val calibration = Meters.calibrationSec(spark)
    probes.stop()
    if (traced) {
      tracer.write(work.resolve("spans.jsonl"))
      EndToEnd.filter(_._1 != "setup_s").foreach { case (n, u) =>
        out.layer(s"traced.$n", out.e2eMetrics(n)._1, u) }
    }
    val failedChecks = out.checks.count(!_._2)
    val failed = out.failed + failedChecks
    val attempted = math.max(out.attempted, 1L)
    val metrics =
      if (traced) PerLayer.map { case (n, u) => n -> out.layerMetrics.getOrElse(n, (0.0, u)) }
      else EndToEnd.map { case (n, u) => n -> out.e2eMetrics.getOrElse(n,
        sys.error(s"$workload did not measure $n")) }
    def metricsJson(ms: Seq[(String, (Double, String))]) = Json.obj(ms.map {
      case (n, (v, u)) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val detailLine = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "config" -> Json.obj(config.filterNot(_._1.endsWith(".dir")).map {
        case (k, v) => k -> Json.str(v) }),
      "calibration_s" -> Json.num(calibration),
      "failed_ratio" -> Json.num(failed.toDouble / attempted),
      "checks" -> out.checks.map { case (n, ok, info) =>
        Json.obj(Seq("check" -> Json.str(n), "ok" -> ok.toString, "info" -> Json.str(info)))
      }.mkString("[", ",", "]"),
      "end_to_end" -> metricsJson(out.e2eMetrics.toSeq),
      "per_layer" -> metricsJson(out.layerMetrics.toSeq)) ++ out.detail.toSeq)
    println(detailLine)
    println(Json.obj(Seq(
      "correct" -> (failedChecks == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricsJson(metrics))))
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
