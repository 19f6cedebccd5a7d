package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.ConsoleApi
import graft.filter.FilterCompiler
import graft.queryengine.{LineInput, LineQuery, LineStats, SankeyInput, SankeyQuery}
import graft.schema.FlowSchema
import graft.store.{EventFlows, FlowStore}

/** The console phase: a closed loop over the flow read path. Viewers send
  * seeded requests over HTTP to a `ConsoleApi` on loopback, each waiting for
  * its reply before sending the next, against a store the write path built.
  *
  * It runs in the traced `ingest` run, after the ingest window, and reports
  * the read path's per-layer numbers and its request latencies as detail.
  * It is not a workload of its own: at ten-odd requests per ten seconds on
  * a 4-core machine its latency median does not repeat run to run (README.md).
  */
object Console {

  /** Viewers: two, so requests queue on the server's single dispatch
    * thread the way users see it.
    */
  val Viewers = 2
  val Events = 30000
  val Days = 2
  val StoreBatches = 2
  /** The kinds of consecutive requests. `repeat` re-sends an earlier body,
    * as shared dashboards do: two in ten requests.
    */
  val Rotation: IndexedSeq[String] = IndexedSeq("line", "sankey", "widget", "line",
    "validate", "repeat", "sankey", "line", "complete", "repeat")
  val WarmupMs = 2000.0
  val SampledChecks = 3
  val DataStart: Instant = Instant.parse("2024-01-01T00:00:00Z")

  /** One console request: method, path and JSON body. */
  final case class Req(kind: String, method: String, path: String, body: String)

  private val dims = Seq("ExporterName", "SrcAS", "DstAS", "SrcCountry",
    "DstCountry", "InIfProvider", "OutIfProvider", "InIfBoundary")

  /** A seeded filter from the console's DSL: one to three atoms joined by
    * AND/OR, some negated.
    */
  def filter(r: scala.util.Random): String = {
    def atom(): String = r.nextInt(8) match {
      case 0 => s"ExporterName = 'exp${r.nextInt(8)}'"
      case 1 => s"SrcAS = AS${64496 + r.nextInt(20)}"
      case 2 => s"DstCountry IN ('${Seq("US", "FR", "DE", "JP")(r.nextInt(4))}', 'FR')"
      case 3 => s"InIfProvider = 'p${r.nextInt(3)}'"
      case 4 => s"Proto = ${Seq(6, 17, 1)(r.nextInt(3))}"
      case 5 => s"SrcPort >= ${1024 + r.nextInt(4000)}"
      case 6 => s"DstPort IN (${Seq(443, 80, 53, 8080)(r.nextInt(4))}, 53)"
      case _ => s"InIfBoundary = ${if (r.nextBoolean()) "external" else "internal"}"
    }
    val n = 1 + r.nextInt(3)
    (0 until n).map { _ =>
      val a = atom()
      if (r.nextInt(5) == 0) s"NOT $a" else a
    }.mkString(if (r.nextBoolean()) " AND " else " OR ")
  }

  /** The request sequence of a seed: line graphs from one hour to the whole
    * [[Days]], sankeys, widgets, filter validation and completion, some of
    * them repeating an earlier body (see [[Rotation]]).
    */
  def mix(seed: Long, n: Int): IndexedSeq[Req] = {
    val r = new scala.util.Random(seed)
    val end = DataStart.plusSeconds(Days * 86400L)
    val ranges = Seq(3600L, 6 * 3600L, 86400L, Days * 86400L)
    def window(maxRange: Long): (String, String) = {
      val range = ranges.filter(_ <= maxRange)(r.nextInt(ranges.count(_ <= maxRange)))
      val slack = (Days * 86400L - range) / 3600L
      val stop = end.minusSeconds(3600L * (if (slack > 0) r.nextLong(slack + 1) else 0L))
      (stop.minusSeconds(range).toString, stop.toString)
    }
    def pick(k: Int) = r.shuffle(dims).take(k).map(d => "\"" + d + "\"").mkString("[", ",", "]")
    def maybeFilter() =
      if (r.nextBoolean()) "" else ",\"filter\":" + Json.str(filter(r))
    def fresh(kind: String): Req = kind match {
      case "line" =>
        val (s, e) = window(Days * 86400L)
        Req("line", "POST", "/api/v0/console/graph/line",
          s"""{"start":"$s","end":"$e","points":${Seq(50, 100, 200)(r.nextInt(3))},""" +
          s""""dimensions":${pick(1 + r.nextInt(2))},"limit":${5 + r.nextInt(6)}${maybeFilter()}}""")
      case "sankey" =>
        val (s, e) = window(86400L)
        Req("sankey", "POST", "/api/v0/console/graph/sankey",
          s"""{"start":"$s","end":"$e","dimensions":${pick(2 + r.nextInt(2))},""" +
          s""""limit":${5 + r.nextInt(6)}${maybeFilter()}}""")
      case "widget" => r.nextInt(3) match {
        case 0 => Req("widget", "GET", "/api/v0/console/widget/top/" +
          Seq("src-as", "dst-as", "src-country", "exporter", "protocol")(r.nextInt(5)), "")
        case 1 => Req("widget", "GET",
          s"/api/v0/console/widget/graph?points=${Seq(50, 100, 200)(r.nextInt(3))}", "")
        case _ => Req("widget", "GET", "/api/v0/console/widget/flow-rate", "")
      }
      case "validate" =>
        Req("filter", "POST", "/api/v0/console/filter/validate",
          s"""{"filter":${Json.str(filter(r))}}""")
      case _ =>
        val prefix = Seq("Src", "Dst", "Exp", "InIf", "Pro", "SrcAS = AS6", "DstCountry = ")(r.nextInt(7))
        Req("filter", "POST", "/api/v0/console/filter/complete",
          s"""{"what":${Json.str(prefix)}}""")
    }
    // the kinds follow a fixed rotation, so every run's mix has the same
    // composition; what varies with the seed is each request's body
    val out = mutable.ArrayBuffer.empty[Req]
    while (out.length < n) {
      val kind = Rotation(out.length % Rotation.length)
      out += (if (kind == "repeat") out(r.nextInt(out.length)) else fresh(kind))
    }
    out.toIndexedSeq
  }

  /** The seeded `events` corpus in the shape of the reference test data
    * (ids, timestamps over [[Days]] days, users, values, JSON props), at
    * [[Events]] rows.
    */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, nproc: Int): Unit = {
    val span = Days * 86400L * 1000000L
    spark.range(0L, Events.toLong, 1L, nproc)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(DataStart.getEpochSecond * 1000000L) +
          (rand(seed) * span).cast("long")).as("ts"),
        (rand(seed + 1) * 1300).cast("long").as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("signup"), lit("error")),
          (rand(seed + 2) * 4).cast("int") + 1).as("event_type"),
        round(exp(rand(seed + 3) * 6), 2).as("value"),
        concat(lit("{\"k\": "), (rand(seed + 4) * 100).cast("int").cast("string"),
          lit("}")).as("props"))
      .write.parquet(s"$dir/events.parquet")
  }

  /** The columns of the events mapping the store keeps: every dimension,
    * filter and measure the mix uses, and what the exporters table needs.
    * The mapping's other columns only lengthen each store build (its
    * first write compiles the whole projection).
    */
  val StoreColumns: Seq[String] = Seq("TimeReceived", "SamplingRate",
    "ExporterAddress", "ExporterName", "SrcAS", "DstAS", "SrcCountry", "DstCountry",
    "InIfName", "OutIfName", "InIfDescription", "OutIfDescription", "InIfSpeed",
    "OutIfSpeed", "InIfConnectivity", "OutIfConnectivity", "InIfProvider",
    "OutIfProvider", "InIfBoundary", "OutIfBoundary", "EType", "Proto", "SrcPort",
    "DstPort", "Bytes", "Packets")

  /** The store the console reads, built through the write path: the events
    * mapped to flows, written in time-ordered micro-batches, then one
    * maintenance pass.
    */
  def buildStore(spark: SparkSession, dataDir: String, root: String,
      trace: Tracer, parent: Long): FlowStore = {
    val store = new FlowStore(spark, root)
    val flows = EventFlows.flows(spark, dataDir).select(StoreColumns.map(col): _*)
    val step = Days * 86400L / StoreBatches
    (0 until StoreBatches).foreach { b =>
      val lo = Timestamp.from(DataStart.plusSeconds(b * step))
      val hi = Timestamp.from(DataStart.plusSeconds((b + 1) * step))
      trace.span(s"writeBatch-$b", "store", parent) { _ =>
        store.writeBatch(flows.where(col("TimeReceived") >= lit(lo) &&
          col("TimeReceived") < lit(hi)), Some(b.toLong))
      }
    }
    trace.span("maintain", "store", parent) { _ =>
      store.maintain(DataStart.plusSeconds((Days - 1) * 86400L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate)
    }
    store
  }

  private final case class Done(req: Req, seq: Int, sendMs: Double, recvMs: Double,
      status: Int, body: String)

  def run(ctx: Ctx, out: Out): Unit = {
    val spark = ctx.spark
    val mapper = new ObjectMapper()
    val dataDir = ctx.work.resolve("console-data").toString
    val t0 = System.nanoTime()
    val store = ctx.trace.span("console-setup", "setup") { id =>
      writeEvents(spark, dataDir, ctx.seed, ctx.nproc)
      buildStore(spark, dataDir, ctx.work.resolve("console-store").toString, ctx.trace, id)
    }
    out.detail("console_setup_s") = Json.num((System.nanoTime() - t0) / 1e9)
    val tables = store.tables()
    val api = new ConsoleApi(spark, FlowSchema.schema, tables).start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:${api.boundPort}"

    def send(req: Req): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(base + req.path))
      val hr = if (req.method == "GET") b.GET().build()
        else b.POST(HttpRequest.BodyPublishers.ofString(req.body)).build()
      val resp = client.send(hr, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }

    /** Closed loop: each viewer takes the next request of `reqs`, sends it
      * and waits for the reply, until `untilMs`.
      */
    def loop(reqs: IndexedSeq[Req], untilMs: Double): Seq[Done] = {
      val next = new AtomicInteger(0)
      val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
      val threads = (0 until Viewers).map { v =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (ctx.trace.nowMs() < untilMs && i < reqs.length) {
            val t0 = ctx.trace.nowMs()
            val (status, body) = send(reqs(i))
            done.add(Done(reqs(i), i, t0, ctx.trace.nowMs(), status, body))
            i = next.getAndIncrement()
          }
        }, s"viewer-$v")
        t.start()
        t
      }
      threads.foreach(_.join())
      scala.jdk.CollectionConverters.ListHasAsScala(done).asScala.toList
    }

    // warm-up on another seed's mix, then an empty cache
    loop(mix(ctx.seed + 1000003L, 100000), ctx.trace.nowMs() + WarmupMs)
    api.cache.invalidateAll()

    val reqs = mix(ctx.seed, 100000)
    val cpu0 = Meters.processCpuMs()
    val windowStart = ctx.trace.nowMs()
    val windowEnd = windowStart + ctx.seconds * 1000.0
    val done = loop(reqs, windowEnd).sortBy(_.recvMs)
    val elapsedMs = ctx.trace.nowMs() - windowStart
    val cpuMs = Meters.processCpuMs() - cpu0

    val lat = done.map(d => d.recvMs - d.sendMs)
    val failed = done.count(d => d.status != 200 || mapper.readTree(d.body).has("error"))
    done.filter(d => d.status != 200).take(3).foreach(d =>
      System.err.println(s"[perfbench] ${d.req.path} ${d.req.body} -> ${d.status} ${d.body}"))
    out.latencies("console_request_latency", "ms", lat)
    out.detail("console_requests_per_s") = Json.num(done.length / (elapsedMs / 1000.0))
    out.detail("console_cpu_ms_per_request") = Json.num(cpuMs / math.max(1, done.length))
    out.detail("console_viewers") = Viewers.toString
    out.detail("console_requests_by_kind") = Json.obj(done.groupBy(_.req.kind).toSeq.sortBy(_._1)
      .map { case (k, ds) => k -> ds.length.toString })

    // ---- output checks: a seeded sample of graph answers recomputed
    // directly, without the cache
    val sampler = new scala.util.Random(ctx.seed + 17L)
    val graphs = done.filter(d => d.status == 200 && (d.req.kind == "line" || d.req.kind == "sankey"))
    sampler.shuffle(graphs).take(SampledChecks).foreach { d =>
      val req = mapper.readTree(d.req.body)
      val resp = mapper.readTree(d.body)
      def ts(f: String) = Timestamp.from(Instant.parse(req.get(f).asText()))
      def strs(f: String) = {
        val it = req.get(f).elements(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText(); b.result()
      }
      val filt = Option(req.get("filter")).map(_.asText()).getOrElse("")
      val ok = if (d.req.kind == "line") {
        val in = LineInput(ts("start"), ts("end"), req.get("points").asInt, strs("dimensions"),
          limit = req.get("limit").asInt, filter = filt)
        val want = LineStats.collect(new LineQuery(FlowSchema.schema, tables).build(spark, in), "avg")
        val got = (0 until resp.get("rows").size).map(resp.get("rows").get)
        want.length == got.length && want.zip(got).forall { case (w, g) =>
          w.axis == g.get("axis").asInt &&
            w.dimensions == (0 until g.get("dimensions").size).map(g.get("dimensions").get(_).asText) &&
            w.points == (0 until g.get("points").size).map(g.get("points").get(_).asDouble)
        }
      } else {
        val in = SankeyInput(ts("start"), ts("end"), strs("dimensions"),
          limit = req.get("limit").asInt, filter = filt)
        val q = new SankeyQuery(FlowSchema.schema, tables)
        val want = q.links(q.build(spark, in), in.dimensions)
        val got = (0 until resp.get("links").size).map(resp.get("links").get)
        want.length == got.length && want.zip(got).forall { case (((a, b), w), g) =>
          a == g.get("source").asText && b == g.get("target").asText &&
            w == g.get("weight").asDouble
        }
      }
      out.check(s"${d.req.kind} #${d.seq} equals the uncached query", ok, d.req.body)
    }
    out.check("every console response is 200 without an error", failed == 0,
      s"$failed of ${done.length} failed")

    layers(ctx, out, done, windowStart, elapsedMs)
    api.stop()
  }

  /** Per-layer numbers: the server's service intervals rebuilt from the
    * replies (one dispatch thread serves requests in reply order), the SQL
    * executions each interval ran, and their plans' scans.
    */
  private def layers(ctx: Ctx, out: Out, done: Seq[Done], windowStart: Double,
      elapsedMs: Double): Unit = {
    ctx.probes.drain()
    var prevEnd = windowStart
    val service = done.map { d =>
      val s = math.max(d.sendMs, prevEnd)
      prevEnd = d.recvMs
      (d, s, d.recvMs)
    }
    val execs = ctx.probes.executions.filter(e => e._2 >= windowStart)
    // a SQL execution's plan record carries the execution's id
    val qeOf = ctx.probes.qes.map(q => q.executionId -> q).toMap
    val jobs = ctx.probes.jobs
    val sqlKinds = Set("line", "sankey", "widget")
    val roots = service.map { case (d, s, e) =>
      val req = Span(ctx.trace.nextId(), 0L, s"request-${d.seq}", "client", d.sendMs, d.recvMs)
      ctx.trace.add(req)
      val root = Span(ctx.trace.nextId(), req.id, s"${d.req.kind} ${d.req.path}", "api", s, e)
      ctx.trace.add(root)
      val mine = execs.filter(x => x._2 >= s && x._2 < e)
      mine.foreach { case (id, x0, x1) =>
        ctx.trace.add(Span(ctx.trace.nextId(), root.id, s"execution-$id", "spark", x0, x1))
      }
      val plans = mine.flatMap(x => qeOf.get(x._1))
      plans.foreach(q => q.phases.foreach { case (ph, (p0, p1)) =>
        if (p1 > p0) ctx.trace.add(Span(ctx.trace.nextId(), root.id, ph, "queryengine", p0, p1))
      })
      (d, root, mine, plans)
    }
    val sqlReqs = roots.filter(r => sqlKinds(r._1.req.kind))
    val n = math.max(1, sqlReqs.length).toDouble
    val ids = sqlReqs.flatMap(_._3.map(_._1)).toSet
    val myQes = sqlReqs.flatMap(_._4)
    val scans = myQes.flatMap(_.scans)
    out.layer("api.cache_hit_ratio", sqlReqs.count(_._3.isEmpty) / n, "ratio")
    Seq("line", "sankey", "widget", "filter").foreach { k =>
      val xs = done.filter(_.req.kind == k).map(d => d.recvMs - d.sendMs)
      out.layer(s"api.latency_p50_ms.$k", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    out.layer("api.server_busy_share",
      Tracer.covered(service.map(x => (x._2, x._3)), windowStart, windowStart + elapsedMs) / elapsedMs,
      "ratio")
    out.layer("queryengine.jobs_per_request", jobs.count(j => ids(j.executionId)) / n, "count")
    val plan = myQes.map(q => Seq("analysis", "optimization", "planning")
      .flatMap(q.phases.get).map(p => p._2 - p._1).sum)
    out.layer("queryengine.plan_ms_p50", if (plan.isEmpty) 0.0 else Stats.median(plan), "ms")
    val exec = execs.filter(e => ids(e._1)).map(e => e._3 - e._2)
    out.layer("queryengine.exec_ms_p50", if (exec.isEmpty) 0.0 else Stats.median(exec), "ms")
    Seq("flows", "flows_1m", "flows_5m", "flows_1h").foreach { t =>
      out.layer(s"queryengine.table_share.$t",
        if (scans.isEmpty) 0.0 else scans.count(_.table == t).toDouble / scans.length, "ratio")
    }
    out.layer("store.files_read_per_request", scans.map(_.files).sum / n, "count")
    out.layer("store.bytes_read_per_request", scans.map(_.bytes).sum / n, "bytes")
    out.layer("store.partitions_read_per_request", scans.map(_.partitions).sum / n, "count")
    // the filter compiler alone, on the mix's own filters
    val filters = done.flatMap { d =>
      val b = if (d.req.body.isEmpty) None else Option(new ObjectMapper().readTree(d.req.body).get("filter"))
      b.map(_.asText()).filter(_.nonEmpty)
    }.distinct
    val compileUs = filters.map { f =>
      Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        FilterCompiler.compile(FlowSchema.schema, f)
        (System.nanoTime() - t0) / 1e3
      })
    }
    out.layer("filter.compile_us_p50", if (compileUs.isEmpty) 0.0 else Stats.median(compileUs), "us")
    out.layer("trace.coverage.console", Tracer.coverage(ctx.trace.spans, roots.map(_._2)), "ratio")
  }
}
