package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.promql.{Api, Compiler, LayerProbe, ResultsCache}
import graft.sources.{RemoteWrite, ScrapeEndpoint}

/** What every workload shares: the session, the corpus, the seed, the
  * span recorder and the failure log.
  */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val tracer: Tracer, val outcome: Outcome, val workDir: java.nio.file.Path)

/** The figures of one measured phase. `latencies` are the workload's
  * unit-operation latencies in ms, `ops` the units completed and
  * `rowsReturned` the result rows (samples) they returned.
  */
final case class Phase(latencies: Seq[Double], ops: Long,
    rowsReturned: Long, diag: Map[String, Any])

abstract class Workload(val ctx: Ctx) {
  def rollups: Boolean = false
  def ingest: Boolean = false
  def resultsCache: Boolean = false
  /** Seconds of unmeasured load before the measured phase: enough for
    * each client's first request, which builds what the set-up left cold.
    */
  def warmUpSeconds(seconds: Double): Double = math.min(1.0, seconds * 0.25)

  var serving: Serving = _
  protected def spark: SparkSession = ctx.spark
  protected def dir: String = ctx.dir
  protected lazy val instantS: Long = Compiler.instantSeconds(spark, dir).toLong

  def measure(seconds: Double, label: String): Phase
  /** Correctness checks run outside every timed section. */
  def verify(): Unit
  /** Per-layer figures the workload measures itself after a traced phase. */
  def layers(traced: Phase): Map[String, Double] = Map.empty

  // ---- query-API client ------------------------------------------------

  protected val SuccessPrefix = "{\"status\":\"success\""

  /** One request; (ok, client ms, body). Failures are logged. */
  protected def ask(req: QueryReq, fromNs: Long = 0L): (Boolean, Double, String) = {
    val t0 = if (fromNs != 0L) fromNs else System.nanoTime()
    ctx.outcome.attempted.increment()
    try {
      val (code, body) = ctx.tracer.span("client.request", req.id)(
        Http.get(serving.queryBase + req.path))
      val ms = Stats.ms(t0, System.nanoTime())
      val ok = code == 200 && body.startsWith(SuccessPrefix)
      if (!ok) ctx.outcome.fail(s"HTTP $code for ${req.query}: ${body.take(300)}")
      (ok, ms, body)
    } catch {
      case e: Exception =>
        ctx.outcome.fail(s"${e.getClass.getSimpleName} for ${req.query}: ${e.getMessage}")
        (false, math.max(Stats.ms(t0, System.nanoTime()), Http.TimeoutS * 1000.0), "")
    }
  }

  /** Result rows (samples) in a success envelope: each renders `[t,"v"]`. */
  protected def sampleCount(body: String): Long = {
    var n = 0L
    var i = body.indexOf("\"]")
    while (i >= 0) { n += 1; i = body.indexOf("\"]", i + 2) }
    n
  }

  /** `clients` threads, each sending its next request once the last one
    * answered, until `seconds` have passed.
    */
  protected def closedLoop(clients: Int, seconds: Double, next: () => QueryReq)(
      onResult: (QueryReq, Boolean, Double, String) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val r = next()
          val (ok, ms, body) = ask(r)
          onResult(r, ok, ms, body)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Requests dispatched at a fixed rate whatever the answers do; each
    * latency runs from the request's scheduled send time. Returns the
    * dispatcher's lateness per request (ms).
    */
  protected def openLoop(ratePerS: Double, seconds: Double, workers: Int,
      next: () => QueryReq)(
      onResult: (QueryReq, Boolean, Double, String) => Unit): Seq[Double] = {
    val pool = Executors.newFixedThreadPool(workers)
    val late = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    val n = (seconds * ratePerS).toInt
    val gapNs = 1e9 / ratePerS
    for (i <- 0 until n) {
      val sched = t0 + (i * gapNs).toLong
      var now = System.nanoTime()
      while (now < sched) { LockSupport.parkNanos(sched - now); now = System.nanoTime() }
      late += (now - sched) / 1e6
      val r = next()
      pool.execute(() => {
        val (ok, ms, body) = ask(r, fromNs = sched)
        onResult(r, ok, ms, body)
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(Http.TimeoutS * 2L, TimeUnit.SECONDS)) {
      pool.shutdownNow()
      ctx.outcome.fail("open-loop requests still outstanding at the end of the phase")
    }
    late.result()
  }

  /** Byte-for-byte comparison of sampled responses against the direct,
    * uncached evaluation.
    */
  protected def verifyResponses(sampled: Seq[(QueryReq, String)]): Unit = {
    if (sampled.isEmpty) ctx.outcome.fail("no responses were sampled for the correctness check")
    sampled.foreach { case (r, body) =>
      val expect =
        try {
          if (r.range) Api.queryRangeJson(spark, dir, r.query, r.startS, r.endS, r.stepS,
            Set.empty, r.maxSourceResS)
          else Api.queryJson(spark, dir, r.query, Set.empty, r.timeS)
        } catch { case e: Exception => s"<error: $e>" }
      if (expect != body)
        ctx.outcome.fail(s"response differs from direct evaluation: ${r.path} " +
          s"(got ${body.length} bytes, expected ${expect.length})")
    }
  }

  /** A deterministic sample of the request ids to verify. */
  protected def sampled(id: Long): Boolean =
    java.lang.Long.remainderUnsigned((id + ctx.seed) * 0x9E3779B97F4A7C15L >>> 16, 8) == 0

  /** The promql stages of up to `n` traced requests, timed from outside:
    * the direct Api call, then parse → construct → plan → collect of the
    * relation that call collects → render, the envelope assembled from
    * the collected fragments, which must equal the call's own body.
    */
  protected def promqlLayers(reqs: Seq[(QueryReq, Double)], n: Int): Map[String, Double] = {
    val t = ctx.tracer
    val picked = reqs.sortBy(_._1.id).take(n)
    val rows = picked.map { case (r, clientMs) =>
      val apiT0 = System.nanoTime()
      val body = t.span("promql.api", r.id) {
        if (r.range) Api.queryRangeJson(spark, dir, r.query, r.startS, r.endS, r.stepS,
          Set.empty, r.maxSourceResS)
        else Api.queryJson(spark, dir, r.query, Set.empty, r.timeS)
      }
      val apiMs = Stats.ms(apiT0, System.nanoTime())
      def timed[T](name: String)(f: => T): (T, Double) = {
        val s0 = System.nanoTime()
        val v = t.span(name, r.id)(f)
        (v, Stats.ms(s0, System.nanoTime()))
      }
      val (ast, parseMs) = timed("promql.parse")(LayerProbe.parse(r.query))
      val (df, compileMs) = timed("promql.compile") {
        if (r.range) LayerProbe.compileRange(spark, dir, ast, r.startS, r.endS, r.stepS,
          r.maxSourceResS)
        else LayerProbe.compileInstant(spark, dir, ast, r.timeS)
      }
      val (_, planMs) = timed("promql.plan")(df.queryExecution.executedPlan)
      val (parts, execMs) = timed("promql.exec")(df.collect().map(_.getString(0)))
      val kind = if (r.range) "matrix" else "vector"
      val (rendered, renderMs) = timed("promql.render")(parts.mkString(
        s"""{"status":"success","data":{"resultType":"$kind","result":[""", ",", "]}}"))
      if (rendered != body)
        ctx.outcome.fail(s"the layer probe's relation does not render the API body: ${r.path}")
      Seq(clientMs - apiMs, parseMs, compileMs, planMs, execMs, renderMs)
    }
    def col(i: Int): Double = if (rows.isEmpty) 0.0 else Stats.mean(rows.map(_(i)))
    Map(
      "sources.http_overhead_ms" -> col(0),
      "promql.parse_ms" -> col(1),
      "promql.compile_ms" -> col(2),
      "promql.plan_ms" -> col(3),
      "promql.exec_ms" -> col(4),
      "promql.render_ms" -> col(5),
      "promql.pyramid_routed_ratio" -> routedRatio(reqs.map(_._1)))
  }

  /** The share of range requests the rollup router answers. */
  protected def routedRatio(reqs: Seq[QueryReq]): Double = {
    val ranges = reqs.filter(_.range).take(48)
    val routed = ranges.count(r => r.maxSourceResS.exists(m =>
      LayerProbe.pyramidRoutes(spark, dir, LayerProbe.parse(r.query), r.startS, r.endS,
        r.stepS, m)))
    if (ranges.isEmpty) 0.0 else routed.toDouble / ranges.size
  }
}

/** Distinct PromQL requests from 2 closed-loop clients, results cache off. */
final class DashCold(ctx: Ctx) extends Workload(ctx) {
  private lazy val measured = Requests.cold(ctx.seed, instantS)
  private lazy val warm = Requests.cold(ctx.seed ^ 0x2545F4914F6CDD1DL, instantS)
  private val checks = new ConcurrentLinkedQueue[(QueryReq, String)]()
  private val seen = new ConcurrentLinkedQueue[(QueryReq, Double)]()

  def measure(seconds: Double, label: String): Phase = {
    val src = if (label == "warmup") warm else measured
    val lat = new ConcurrentLinkedQueue[Double]()
    val rows = new AtomicLong
    seen.clear()
    val elapsed = closedLoop(2, seconds, () => src.synchronized(src.next())) {
      (r, ok, ms, body) =>
        lat.add(ms)
        if (ok) {
          rows.addAndGet(sampleCount(body))
          if (label != "warmup") {
            seen.add((r, ms))
            if ((checks.isEmpty || sampled(r.id)) && checks.size < 3) checks.add((r, body))
          }
        }
    }
    val l = lat.asScala.toSeq
    Phase(l, l.size, rows.get,
      Map("queries" -> l.size, "query_p50_ms" -> Stats.median(l),
        "query_p90_ms" -> Stats.quantile(l, 0.9), "queries_per_s" -> l.size / elapsed))
  }

  def verify(): Unit = verifyResponses(checks.asScala.toSeq)

  override def layers(traced: Phase): Map[String, Double] =
    promqlLayers(seen.asScala.toSeq, 8)
}

/** Remote-write POSTs at a fixed rate through the streaming pipeline
  * to `/metrics` with a scraper polling it, beside a 12-panel dashboard
  * refreshed at a fixed rate through the results cache and the rollup
  * router; then a burst of back-to-back POSTs for the ingest rate.
  *
  * Not a workload of its own (see perfbench/README.md): `dash-cold`'s
  * traced run drives it after its own phases to measure the ingest,
  * streaming, scrape, results-cache and rollup-router layers.
  */
final class WriteRead(ctx: Ctx) extends Workload(ctx) {
  override def ingest = true
  override def rollups = true
  override def resultsCache = true

  val PostsPerS = 20.0
  val SeriesPerPost = 50
  val BurstSeriesPerPost = 200
  val ScrapeEveryMs = 50L
  /** Dashboard panel requests per second (open loop). */
  val ReadsPerS = 0.25
  val MaxSourceResS = 86400L
  /** A run whose POST generator falls further behind is invalid. */
  val MaxLateMs = 5000.0

  private val rng = new SplittableRandom(ctx.seed ^ 0x6A09E667F3BCC909L)
  /** Expected exposition totals in cents, by (family, k). */
  private val expected = scala.collection.mutable.Map.empty[(String, String), Long]
  private var posted = 0L // POSTs accepted so far; the "seq" witness total
  private lazy val reads = Requests.refresh(Requests.dashboard(ctx.seed), instantS,
    cycles = 48, MaxSourceResS)
  private val readChecks = new ConcurrentLinkedQueue[(QueryReq, String)]()
  private val seen = new ConcurrentLinkedQueue[(QueryReq, Double)]()
  private val decode = new ConcurrentLinkedQueue[(Double, Int)]() // (ms, bytes)
  private val renders = new ConcurrentLinkedQueue[Double]()
  private val backlog = new ConcurrentLinkedQueue[Double]()
  @volatile var streamCounters: Option[StreamCounters] = None

  private val Families = Vector("click", "view", "purchase")

  /** One POST body: `n` random counter increments plus the witness
    * series `click_total{k="seq"}` that counts POSTs.
    */
  private def payload(n: Int, tsMs: Long): Array[Byte] = {
    val series = Vector.fill(n) {
      val f = Families(rng.nextInt(3))
      val k = rng.nextInt(100).toString
      val cents = 1L + rng.nextInt(10000)
      expected((f, k)) = expected.getOrElse((f, k), 0L) + cents
      RemoteWrite.Series(Vector("__name__" -> s"${f}_total", "k" -> k),
        Vector((cents / 100.0, tsMs)))
    } :+ RemoteWrite.Series(Vector("__name__" -> "click_total", "k" -> "seq"),
      Vector((1.0, tsMs)))
    val body = RemoteWrite.compress(RemoteWrite.encode(series))
    if (ctx.tracer.enabled) {
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.rw_decode")(RemoteWrite.walk(RemoteWrite.uncompress(body)))
      decode.add((Stats.ms(t0, System.nanoTime()), body.length))
    }
    body
  }

  private def send(body: Array[Byte]): Boolean = {
    ctx.outcome.attempted.increment()
    try {
      val code = ctx.tracer.span("client.write")(Http.post(serving.queryBase + "/api/v1/write",
        body, "Content-Type" -> "application/x-protobuf", "Content-Encoding" -> "snappy",
        "X-Prometheus-Remote-Write-Version" -> "0.1.0"))
      if (code != 204) ctx.outcome.fail(s"remote write answered HTTP $code")
      code == 204
    } catch {
      case e: Exception => ctx.outcome.fail(s"remote write: $e"); false
    }
  }

  /** Exposition totals in cents, by (family, k). */
  private def scrape(): Map[(String, String), Long] = {
    val (code, text) = ctx.tracer.span("client.scrape")(Http.get(serving.scrapeUrl))
    if (code != 200) throw new IllegalStateException(s"/metrics answered HTTP $code")
    if (ctx.tracer.enabled) {
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.scrape_render")(ScrapeEndpoint.renderText())
      renders.add(Stats.ms(t0, System.nanoTime()))
    }
    text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      val b = line.indexOf('{')
      val q1 = line.indexOf('"', b)
      val q2 = line.indexOf('"', q1 + 1)
      val v = line.substring(line.lastIndexOf(' ') + 1)
      val cents = BigDecimal(v).*(100).toLongExact
      (line.substring(0, b), line.substring(q1 + 1, q2)) -> cents
    }.toMap
  }

  /** POSTs at `postsPerS` (or back to back when 0) for `seconds`, a
    * scraper recording when each POST first shows, and the dashboard
    * read at [[ReadsPerS]] in an open loop.
    * Returns the visibility latencies (ms, from scheduled send), the
    * dispatcher lateness, the samples posted and the span from the first
    * send until the last POST was visible (s).
    */
  private def run(seconds: Double, postsPerS: Double, seriesPerPost: Int,
      readLat: ConcurrentLinkedQueue[Double]): (Seq[Double], Seq[Double], Long, Double) = {
    val schedNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val visible = new ConcurrentLinkedQueue[Double]()
    val late = Vector.newBuilder[Double]
    val firstPost = posted + 1
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lastPost = new AtomicLong(posted)
    val lastVisibleNs = new AtomicLong(0L)
    val scrapeErr = new AtomicReference[String](null)
    val scraper = new Thread(() => {
      var shown = firstPost - 1
      var idle = 0
      while (!(writerDone.get && shown >= lastPost.get) && idle < 400) {
        try {
          val totals = scrape()
          val now = System.nanoTime()
          val seqN = totals.getOrElse(("click", "seq"), 0L) / 100
          if (seqN > shown) { idle = 0 } else if (writerDone.get) idle += 1
          while (shown < seqN) {
            shown += 1
            Option(schedNs.get(shown)).foreach { s =>
              visible.add(Stats.ms(s, now)); lastVisibleNs.set(now)
            }
          }
          streamCounters.foreach { sc =>
            backlog.add(math.max(0L, lastPost.get - sc.inputRows.get).toDouble)
          }
        } catch { case e: Exception => scrapeErr.set(e.toString); idle += 1 }
        Thread.sleep(ScrapeEveryMs)
      }
      if (shown < lastPost.get) ctx.outcome.fail(
        s"${lastPost.get - shown} POSTs never became visible on /metrics")
    }, "perfbench-scraper")
    val reader = new Thread(() => {
      openLoop(ReadsPerS, seconds, 1, () => reads.synchronized(reads.next())) {
        (r, ok, ms, body) =>
          readLat.add(ms)
          if (ok) {
            seen.add((r, ms))
            if ((readChecks.isEmpty || sampled(r.id)) && readChecks.size < 2)
              readChecks.add((r, body))
          }
      }
    }, "perfbench-reader")
    reader.start()
    scraper.start()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0L
    var samples = 0L
    var sched = t0
    while (sched < deadline) {
      var now = System.nanoTime()
      if (postsPerS > 0) {
        while (now < sched) { LockSupport.parkNanos(sched - now); now = System.nanoTime() }
        late += (now - sched) / 1e6
      } else sched = now
      val body = payload(seriesPerPost, System.currentTimeMillis())
      if (send(body)) {
        posted += 1
        schedNs.put(posted, sched)
        lastPost.set(posted)
        samples += seriesPerPost + 1
      }
      i += 1
      sched = if (postsPerS > 0) t0 + (i * 1e9 / postsPerS).toLong else System.nanoTime()
    }
    writerDone.set(true)
    scraper.join()
    reader.join()
    Option(scrapeErr.get).foreach(e => ctx.outcome.problem(s"scrape error: $e"))
    val span = (math.max(lastVisibleNs.get, t0) - t0) / 1e9
    (visible.asScala.toSeq, late.result(), samples, span)
  }

  def measure(seconds: Double, label: String): Phase = {
    val readLat = new ConcurrentLinkedQueue[Double]()
    seen.clear()
    val (vis, late, _, _) = run(seconds * 0.7, PostsPerS, SeriesPerPost, readLat)
    val (_, _, burstSamples, span) =
      run(seconds * 0.3, 0.0, BurstSeriesPerPost, readLat)
    val ingest = if (span > 0) burstSamples / span else 0.0
    val reads = readLat.asScala.toSeq
    if (late.nonEmpty && late.max > MaxLateMs)
      ctx.outcome.fail(f"the POST generator fell ${late.max}%.0f ms behind its schedule")
    Phase(vis, vis.size, 0L,
      Map("posts_visible" -> vis.size, "write_visible_p50_ms" -> Stats.median(vis),
        "write_visible_p90_ms" -> Stats.quantile(vis, 0.9),
        "ingest_samples_per_s" -> ingest, "dashboard_reads" -> reads.size,
        "query_p50_ms" -> Stats.median(reads), "query_p90_ms" -> Stats.quantile(reads, 0.9),
        "generator_late_p99_ms" -> Stats.quantile(late, 0.99),
        "generator_late_max_ms" -> (if (late.isEmpty) 0.0 else late.max)))
  }

  /** The dashboard alone, refreshed by 2 closed-loop clients until
    * `requests` have been answered: the results-cache and rollup-router
    * phase. More requests than panels make refreshed panels reach the
    * cache. Returns the requests answered per second.
    */
  def refresh(requests: Int): Double = {
    seen.clear()
    val issued = new AtomicLong
    val t0 = System.nanoTime()
    val clients = (1 to 2).map { c =>
      new Thread(() => {
        while (issued.getAndIncrement() < requests) {
          val r = reads.synchronized(reads.next())
          val (ok, ms, body) = ask(r)
          if (ok) {
            seen.add((r, ms))
            if (sampled(r.id) && readChecks.size < 4) readChecks.add((r, body))
          }
        }
      }, s"perfbench-refresh-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    requests / ((System.nanoTime() - t0) / 1e9)
  }

  def verify(): Unit = {
    verifyResponses(readChecks.asScala.toSeq)
    val got = scrape()
    val want = expected.toMap + (("click", "seq") -> posted * 100)
    val wrong = want.count { case (key, cents) => got.get(key) != Some(cents) }
    val extra = (got.keySet -- want.keySet).size
    if (wrong > 0 || extra > 0)
      ctx.outcome.fail(s"scraped totals differ from the posted sums: $wrong series wrong, $extra unexpected")
  }

  override def layers(traced: Phase): Map[String, Double] = {
    val d = decode.asScala.toSeq
    val sc = streamCounters
    val trig = sc.map(_.triggers.asScala.toSeq).getOrElse(Nil)
    Map(
      "sources.rw_receive_ms" -> ctx.tracer.meanMs("sources.rw_receive"),
      "sources.rw_decode_ms_per_mb" ->
        (if (d.isEmpty) 0.0 else d.map(_._1).sum / (d.map(_._2).sum / 1048576.0)),
      "sources.scrape_render_ms" -> Stats.mean(renders.asScala),
      "streaming.trigger_ms" -> Stats.mean(trig),
      "streaming.backlog_rows" -> Stats.mean(backlog.asScala),
      "streaming.rows_per_s" -> sc.map(s =>
        if (s.processedMs.get == 0) 0.0 else s.inputRows.get * 1000.0 / s.processedMs.get).getOrElse(0.0),
      "streaming.state_rows" -> sc.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> sc.map(_.stateBytes.toDouble).getOrElse(0.0))
  }

  /** The rollup router's share of the dashboard requests seen last. */
  def dashboardRoutedRatio: Double = routedRatio(seen.asScala.toSeq.map(_._1))
}

/** The curation batch: from released caches, run five entries and
  * collect their outputs, as many times as the run allows (at least
  * once). Its latency is the batch's.
  */
final class Curation(ctx: Ctx) extends Workload(ctx) {
  override def warmUpSeconds(seconds: Double): Double = 0.0

  val Entries = Seq("x99_dedup_funnel", "x70_curation_funnel", "x37_kmeans_converged",
    "x6_cosine_topk", "x9_langid")
  private val kmeansOutputs = scala.collection.mutable.Set.empty[Seq[String]]
  /** Each entry's schema and rows from the last batch, for the oracle check. */
  private val lastOutputs = scala.collection.mutable.Map.empty[String,
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]
  private val opMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedBatches = 0

  private def batch(): (Seq[Double], Long) = {
    graft.Graft.releaseCaches(spark)
    val t = ctx.tracer
    if (t.enabled) {
      import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
      def op(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); t.span(name)(f); opMs(name) += Stats.ms(t0, System.nanoTime())
      }
      op("operators.dedup")(Dedup.dedupComponents(spark, dir).count())
      op("operators.similarity")(Similarity.kmeansAssignments(spark, dir).count())
      op("operators.text") {
        TextAnalysis.filterVerdict(spark, dir).count(); TextAnalysis.langId(spark, dir).count()
      }
      op("operators.multimodal")(Multimodal.phashNeardup(spark, dir).count())
      tracedBatches += 1
    }
    var rows = 0L
    val times = Entries.map { e =>
      ctx.outcome.attempted.increment()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(e)(spark, dir)
        val out = t.span(s"entry.$e")(df.collect())
        val ms = Stats.ms(t0, System.nanoTime())
        lastOutputs(e) = (df.schema, out)
        rows += out.length
        if (out.isEmpty) ctx.outcome.fail(s"$e returned no rows")
        if (e == "x37_kmeans_converged") kmeansOutputs.synchronized(
          kmeansOutputs += out.map(_.toString).toSeq.sorted)
        if (t.enabled) opMs(Curation.opOf(e)) += ms
        ms
      } catch {
        case ex: Exception =>
          ctx.outcome.fail(s"$e: $ex"); Stats.ms(t0, System.nanoTime())
      }
    }
    (times, rows)
  }

  def measure(seconds: Double, label: String): Phase = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val all = Vector.newBuilder[Double]
    val perEntry = Vector.newBuilder[(String, Double)]
    val batches = Vector.newBuilder[Double]
    var rows = 0L
    var n = 0
    // a batch starts only if one more of the same length still fits
    var last = 0L
    while (n < 1 || System.nanoTime() + last < deadline) {
      val b0 = System.nanoTime()
      val (times, r) = batch()
      last = System.nanoTime() - b0
      all ++= times; perEntry ++= Entries.zip(times)
      batches += last / 1e9; rows += r; n += 1
    }
    val el = (System.nanoTime() - t0) / 1e9
    val b = batches.result()
    val e = all.result()
    Phase(b.map(_ * 1000.0), e.size, rows,
      Map("batches" -> n, "batch_s" -> Stats.median(b), "entries" -> e.size,
        "wall_s" -> el, "entry_ms" -> perEntry.result().groupMap(_._1)(_._2)
          .map { case (k, v) => k -> Stats.median(v) }))
  }

  def verify(): Unit = {
    if (kmeansOutputs.size > 1)
      ctx.outcome.fail("x37_kmeans_converged returned different rows across batches")
    lastOutputs.get("x37_kmeans_converged").foreach { case (_, rows) => verifyKmeans(rows) }
    val out = ctx.workDir.resolve("curation_outputs")
    val oracle = Entries.filter(SparkEntry.oracleSql.contains)
    oracle.filter(lastOutputs.contains).foreach { e =>
      val (schema, rows) = lastOutputs(e)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(e).toString)
    }
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(oracle.map(e => e -> SparkEntry.oracleSql(e)).toMap))
  }

  /** x37 has no SQL oracle (its round count is data-dependent), so its
    * cluster summary is checked for what any converged assignment must
    * hold: at most K distinct cells, every embedding assigned to exactly
    * one of them, each cell's champion one of its members' ids and its
    * best cosine no lower than its worst.
    */
  private def verifyKmeans(rows: Array[org.apache.spark.sql.Row]): Unit = {
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    def num(r: org.apache.spark.sql.Row, c: String): Double =
      r.getAs[Number](c).doubleValue
    val cells = rows.map(r => num(r, "cell"))
    val bad = Seq(
      "more than K cells" -> (rows.length > graft.operators.Similarity.KmeansK),
      "a cell appears twice" -> (cells.distinct.length != cells.length),
      s"members do not sum to the $n embeddings" ->
        (rows.map(r => num(r, "n_members").toLong).sum != n),
      "an empty cell" -> rows.exists(r => num(r, "n_members") < 1),
      "a champion that is no embedding" ->
        rows.exists(r => !ids.contains(num(r, "champion_id").toLong)),
      "a champion cosine below the cell's minimum" ->
        rows.exists(r => num(r, "champion_cos") < num(r, "min_cos")))
    bad.collect { case (what, true) => what }.foreach(what =>
      ctx.outcome.fail(s"x37_kmeans_converged: $what"))
  }

  override def layers(traced: Phase): Map[String, Double] = {
    val per = math.max(1, tracedBatches)
    Seq("operators.dedup", "operators.similarity", "operators.text", "operators.multimodal")
      .map(k => s"${k}_ms" -> opMs(k) / per).toMap
  }
}

object Curation {
  def opOf(entry: String): String = entry match {
    case "x99_dedup_funnel" => "operators.dedup"
    case "x37_kmeans_converged" | "x6_cosine_topk" => "operators.similarity"
    case "x70_curation_funnel" | "x9_langid" => "operators.text"
    case _ => "operators.multimodal"
  }
}
