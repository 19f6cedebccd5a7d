package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.dedup.{Dedup, ReleaseStore}

/** `release`: a closed loop over the curation plane, where store writes
  * sit beside reads. Seeded document batches go through
  * `ReleaseStore.ingest` one after another; the store compacts once
  * mid-run and serves `productsCached` at the end.
  */
object Release {

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  /** Documents per batch. A call's cost is mostly fixed, so small batches
    * give a window about ten calls.
    */
  val BatchDocs = 40
  /** Share of each batch that re-sends earlier documents under fresh ids:
    * a chosen workload setting, not a property of the test data.
    */
  val RecrawlShare = 0.1
  /** Share of each batch that is near copies of earlier documents: an
    * earlier text with ` dup` appended, as 250 of the test data's 5,000
    * `documents` are (each at Jaccard ~0.98 to its original).
    */
  val NearDupShare = 0.05
  val Threshold = 0.5
  /** Set-ups per run. The first runs cold (6 to 8 s more than the rest)
    * and the next few still warm, so the median of five is a warming one;
    * more repetitions would not fit the benchmark's time budget.
    */
  val SetupReps = 5

  /** The test data's text vocabulary: 30 words drawn uniformly. */
  private val vocab = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(" ").toIndexedSeq

  /** The first `n` batches of a seed's corpus: ids `b * BatchDocs` onward.
    * New texts follow the test data's `documents` (README.md): 10 to 100
    * words, uniform, from [[vocab]]; two in five are English; the source
    * cycles over twenty by id. Every batch after the first has the same
    * make-up — [[RecrawlShare]] re-sent earlier documents, [[NearDupShare]]
    * near copies, the rest new — so batches cost alike whatever the seed;
    * the seed picks the words and the originals.
    */
  def batches(seed: Long, n: Int): IndexedSeq[IndexedSeq[Doc]] = {
    val r = new scala.util.Random(seed)
    val seen = mutable.ArrayBuffer.empty[Doc]
    val recrawls = (RecrawlShare * BatchDocs).round.toInt
    val nearDups = (NearDupShare * BatchDocs).round.toInt
    def fresh(): String =
      Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
    (0 until n).map { b =>
      val batch = (0 until BatchDocs).map { i =>
        val text =
          if (b == 0) fresh()
          else if (i < recrawls) seen(r.nextInt(seen.length)).text
          else if (i < recrawls + nearDups) seen(r.nextInt(seen.length)).text + " dup"
          else fresh()
        val id = b.toLong * BatchDocs + i
        val lang = if (r.nextInt(5) < 2) "en" else Seq("de", "es", "fr", "zh")(r.nextInt(4))
        Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
      }
      seen ++= batch
      batch
    }
  }

  private def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs)

  /** Sorted rows of a product, for comparison. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def products(p: Dedup.ReleaseProducts): Seq[(String, Seq[String])] = Seq(
    "pairs" -> rows(p.pairs), "clusters" -> rows(p.clusters),
    "keepers" -> rows(p.keepers), "clusterSizes" -> rows(p.clusterSizes),
    "survivors" -> rows(p.survivors.select("doc_id")), "split" -> rows(p.split),
    "sourceOverlap" -> rows(p.sourceOverlap), "containment" -> rows(p.containment))

  def run(ctx: Ctx, out: Out): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val corpus = batches(ctx.seed, 200)
    def quality(docs: DataFrame) = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
    def traced[T](name: String, layer: String)(f: => T): (T, Double, Long) = {
      val t0 = System.nanoTime()
      var sid = 0L
      val v = ctx.trace.span(name, layer) { id =>
        sid = id
        sc.setLocalProperty("perfbench.span", id.toString)
        try f finally sc.setLocalProperty("perfbench.span", null)
      }
      (v, (System.nanoTime() - t0) / 1e6, sid)
    }

    // ---- set-up: price the fronts on the first batch and create the store
    val first = frame(spark, corpus(0))
    val setups = mutable.ArrayBuffer.empty[Double]
    var store: ReleaseStore = null
    var path = ""
    (0 until SetupReps).foreach { rep =>
      path = ctx.work.resolve(s"release-$rep").toString
      val t0 = System.nanoTime()
      store = ctx.trace.span(s"setup-$rep", "setup") { _ =>
        ReleaseStore.createAuto(spark, path, first, "doc_id", "text")
      }
      setups += (System.nanoTime() - t0) / 1e9
    }
    out.setup(setups.toSeq)
    // warm-up, untimed: the first ingest creates the tables and pins the shape
    store.ingest(frame(spark, corpus(0)), Some(0L))

    // ---- the closed loop: one ingest after another, one compaction once
    // half the window has gone, then the release
    val calls = mutable.ArrayBuffer.empty[(String, Double, Long)]
    val cpu0 = Meters.processCpuMs(); val gc0 = Meters.gcMs()
    val cg0 = Meters.codegenCompiles(); val host0 = Meters.hostBusyMs()
    val heap = new HeapPeak
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    var b = 1
    var compacted = false
    while (elapsedMs < ctx.seconds * 1000.0 && b < corpus.length) {
      val (_, ms, id) = traced(s"ingest-$b", "dedup")(
        store.ingest(frame(spark, corpus(b)), Some(b.toLong)))
      calls += (("ingest", ms, id))
      b += 1
      if (!compacted && elapsedMs >= ctx.seconds * 500.0) {
        val (_, cms, cid) = traced("compact", "store")(store.compact())
        calls += (("compact", cms, cid))
        compacted = true
      }
    }
    if (!compacted) {
      val (_, cms, cid) = traced("compact", "store")(store.compact())
      calls += (("compact", cms, cid))
    }
    val loopMs = elapsedMs
    val cpuMs = Meters.processCpuMs() - cpu0
    val gcMs = Meters.gcMs() - gc0
    val compiles = Meters.codegenCompiles() - cg0
    val extCpu = Meters.hostBusyMs().flatMap(h => host0.map(h - _ - cpuMs))
    val ingested = corpus.take(b).flatten
    val all = frame(spark, ingested)
    val (cached, productsMs, productsId) = traced("products", "dedup") {
      val p = store.productsCached(Threshold, quality(all))
      (p, products(p))
    }
    calls += (("products", productsMs, productsId))
    // the closing heap sample, while the products are still cached
    out.heap(heap)

    val batchMs = calls.filter(_._1 == "ingest").map(_._2).toSeq
    out.attempted = (b - 1).toLong
    out.latencies("batch_call", "ms", batchMs)
    out.e2e("latency_p50_ms", Stats.median(batchMs), "ms")
    val timedDocs = ingested.length - BatchDocs
    out.detail("docs_per_s") = Json.num(timedDocs / (loopMs / 1000.0))
    out.e2e("cpu_ms_per_op", cpuMs / timedDocs, "ms")
    out.detail("op") = Json.str("one document ingested")
    out.detail("batches") = b.toString
    out.detail("products_s") = Json.num(productsMs / 1000.0)
    out.layer("release.products_ms", productsMs, "ms")
    out.noise(extCpu)
    out.jvm(gcMs, compiles)

    // ---- output checks: the cached release, the stored release and a
    // from-scratch release of the chosen front over the whole corpus agree
    val meta = scala.io.Source.fromFile(s"$path/store.meta")
    val pins = try meta.getLines().map(_.split("=", 2)).collect {
      case Array(k, v) => k.trim -> v.trim }.toMap finally meta.close()
    val lsh = pins.get("lshFront").contains("true")
    val collapse = pins.get("collapseFront").contains("true")
    val front = if (collapse) 3.0 else if (lsh) 2.0 else 1.0
    out.detail("front") = Json.str(if (collapse) "collapse" else if (lsh) "lsh" else "exact")
    graft.ScratchCache.releaseAll(spark)
    val stored = products(store.products(Threshold, quality(all)))
    graft.ScratchCache.releaseAll(spark)
    val scratch = products(
      if (lsh || collapse) Dedup.releasePipelineLsh(all, "doc_id", "text", Threshold,
        maxShingleDf = None, quality = quality(all), collapseExact = collapse)
      else Dedup.releasePipeline(all, "doc_id", "text", Threshold,
        maxShingleDf = None, quality = quality(all)))
    graft.ScratchCache.releaseAll(spark)
    cached._2.zip(stored).zip(scratch).foreach { case (((name, c), (_, s)), (_, f)) =>
      out.check(s"$name: productsCached = products = from scratch", c == s && s == f,
        s"cached=${c.length} stored=${s.length} scratch=${f.length}")
    }

    if (ctx.trace.enabled) {
      ctx.probes.drain()
      val jobs = ctx.probes.jobs
      val ingestIds = calls.filter(_._1 == "ingest").map(_._3).toSet
      val n = math.max(1, ingestIds.size).toDouble
      out.layer("release.front", front, "code")
      out.layer("dedup.jobs_per_batch", jobs.count(j => ingestIds(j.span)) / n, "count")
      out.layer("dedup.shuffle_bytes_per_batch",
        jobs.filter(j => ingestIds(j.span)).map(_.shuffleWriteBytes).sum / n, "bytes")
      val scored = store.scored
      val scoredRows = scored.count()
      val useful = scored.where(col("common") * lit(1.0) /
        (col("n_a") + col("n_b") - col("common")) >= Threshold).count()
      out.layer("dedup.scored_rows_per_batch", scoredRows / n, "count")
      out.layer("dedup.useful_pair_ratio",
        if (scoredRows == 0) 0.0 else useful.toDouble / scoredRows, "ratio")
      out.layer("store.compact_ms", calls.filter(_._1 == "compact").map(_._2).sum, "ms")
      out.layer("dedup.products_jobs", jobs.count(_.span == productsId).toDouble, "count")
      // each call's Spark jobs, SQL executions and their planning phases
      // are its child spans; calls run one at a time on this thread, so an
      // execution belongs to the call it started in
      val roots = ctx.trace.spans.filter(s => calls.exists(_._3 == s.id))
      val qeOf = ctx.probes.qes.map(q => q.executionId -> q).toMap
      roots.foreach { r =>
        jobs.filter(_.span == r.id).foreach(j =>
          ctx.trace.add(Span(ctx.trace.nextId(), r.id, s"job-${j.id}", "spark", j.startMs, j.endMs)))
        ctx.probes.executions.filter(e => e._2 >= r.startMs && e._2 < r.endMs).foreach { e =>
          ctx.trace.add(Span(ctx.trace.nextId(), r.id, s"execution-${e._1}", "spark", e._2, e._3))
          qeOf.get(e._1).foreach(_.phases.foreach { case (ph, (p0, p1)) =>
            if (p1 > p0) ctx.trace.add(Span(ctx.trace.nextId(), r.id, ph, "spark", p0, p1))
          })
        }
      }
      out.layer("trace.coverage", Tracer.coverage(ctx.trace.spans, roots), "ratio")
      out.selfTimes(ctx.trace)
    }
  }
}
