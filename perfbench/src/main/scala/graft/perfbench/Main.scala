package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.promql.ResultsCache

/** One benchmark run in one JVM: build the serving state [[Setups]] times,
  * warm up, measure the workload, check its outputs, and write the
  * figures to the `--out` JSON file.
  *
  * {{{
  *   Main --workload dash-cold --seed 1 --seconds 10 --trace 0 \
  *        --corpus <dir> --work <dir> --out <file>
  * }}}
  *
  * With `--trace 1` the measured time is split: the first half runs
  * untraced, the second traced, and the difference of their median
  * latencies is reported as the tracing overhead.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. The first pays for
    * class loading and JIT and the next few still speed up, so the
    * median needs enough of them to land among the warm ones.
    */
  val Setups = 5

  val PerLayer: Seq[String] = Seq(
    "sources.http_overhead_ms", "sources.rw_receive_ms", "sources.rw_decode_ms_per_mb",
    "sources.scrape_render_ms",
    "promql.parse_ms", "promql.compile_ms", "promql.plan_ms", "promql.exec_ms",
    "promql.render_ms", "promql.cache_range_hit_ratio", "promql.cache_instant_hit_ratio",
    "promql.pyramid_routed_ratio",
    "operators.events_adapter_ms", "operators.rollup_build_ms", "operators.dedup_ms",
    "operators.similarity_ms", "operators.text_ms", "operators.multimodal_ms",
    "streaming.trigger_ms", "streaming.backlog_rows", "streaming.rows_per_s",
    "streaming.state_rows", "streaming.state_bytes",
    "spark.jobs_per_query", "spark.stages_per_query", "spark.tasks_per_query",
    "spark.sched_delay_ms_per_query", "spark.task_run_ms_per_query",
    "spark.shuffle_bytes_per_query", "spark.rows_read_per_row_returned",
    "spark.cache_storage_mb", "jvm.gc_ms", "jvm.peak_heap_mb", "jvm.live_heap_mb",
    "trace.overhead_p50_ms", "trace.spans")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Single-thread spin calibration (ms): a fixed xorshift + multiply-add
    * loop, min of two runs, that tracks the core's effective speed.
    */
  private def spinMs(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var d = 1.0
      var i = 0
      val t0 = System.nanoTime()
      while (i < (1 << 27)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        d = d * 1.0000000001 + (x & 0xFF).toDouble
        i += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (d.isNaN) System.err.println("spin sink")
      ms
    }
    math.min(once(), once())
  }

  /** The serving layers `dash-cold` itself does not reach: the rollups,
    * the results cache and router behind a refreshed dashboard, and the
    * remote-write → stream → `/metrics` path, driven by [[WriteRead]] on
    * a freshly built serving stack with tracing on. Returns the layer
    * figures and the phase's diagnostics (write visibility, ingest rate,
    * dashboard throughput).
    */
  private def ingestLayers(ctx: Ctx, streamCounters: StreamCounters,
      seconds: Double): (Map[String, Double], Map[String, Any]) = {
    val wr = new WriteRead(ctx)
    wr.streamCounters = Some(streamCounters)
    ctx.tracer.enabled = true
    val (s, _) = Serving.setUp(ctx.spark, ctx.dir, ctx.tracer, wr.rollups, wr.ingest,
      wr.resultsCache)
    wr.serving = s
    val phase = wr.measure(math.max(4.0, seconds / 4), "traced")
    val ingest = wr.layers(phase)
    val (rh0, rm0) = ResultsCache.stats
    val (ih0, im0) = ResultsCache.instantStats
    val refreshQps = wr.refresh(24) // two refresh cycles of the 12 panels
    val (rh1, rm1) = ResultsCache.stats
    val (ih1, im1) = ResultsCache.instantStats
    def ratio(h: Long, m: Long): Double = if (h + m == 0) 0.0 else h.toDouble / (h + m)
    val routed = wr.dashboardRoutedRatio
    ctx.tracer.enabled = false
    wr.verify()
    s.close()
    (ingest ++ Map(
      "promql.pyramid_routed_ratio" -> routed,
      "operators.rollup_build_ms" -> ctx.tracer.meanMs("operators.rollup_build"),
      "promql.cache_range_hit_ratio" -> ratio(rh1 - rh0, rm1 - rm0),
      "promql.cache_instant_hit_ratio" -> ratio(ih1 - ih0, im1 - im0)),
      phase.diag + ("refresh_max_qps" -> refreshQps))
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val corpus = arg(args, "corpus")
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val out = Paths.get(arg(args, "out"))
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer
    val outcome = new Outcome
    val ctx = new Ctx(spark, corpus, seed, tracer, outcome, work)
    val sparkCounters = new SparkCounters
    val streamCounters = new StreamCounters
    if (trace) {
      spark.sparkContext.addSparkListener(sparkCounters)
      spark.streams.addListener(streamCounters)
    }
    val w: Workload = workload match {
      case "dash-cold" => new DashCold(ctx)
      case "curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = new HeapSampler
    heap.start()

    val setups = (1 to Setups).map { i =>
      if (w.serving != null) w.serving.close()
      tracer.enabled = trace && i == Setups
      val (s, sec) = Serving.setUp(spark, corpus, tracer, w.rollups, w.ingest, w.resultsCache)
      w.serving = s
      sec
    }
    tracer.enabled = false
    val warm = w.warmUpSeconds(seconds)
    if (warm > 0) w.measure(warm, "warmup")

    heap.reset()
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val phase =
      if (!trace) w.measure(seconds, "measure")
      else {
        val plain = w.measure(seconds / 2, "untraced")
        Thread.sleep(300)
        val s0 = sparkCounters.snapshot
        val gc0 = Gc.totalMs
        tracer.enabled = true
        val traced = w.measure(seconds / 2, "traced")
        tracer.enabled = false
        Thread.sleep(300)
        val s1 = sparkCounters.snapshot
        val ops = math.max(1L, traced.ops).toDouble
        def per(k: String): Double = (s1(k) - s0(k)) / ops
        layers ++= PerLayer.map(_ -> 0.0)
        layers ++= Seq(
          "operators.events_adapter_ms" -> tracer.meanMs("operators.events_adapter"),
          "spark.jobs_per_query" -> per("jobs"),
          "spark.stages_per_query" -> per("stages"),
          "spark.tasks_per_query" -> per("tasks"),
          "spark.sched_delay_ms_per_query" -> per("sched_delay_ms"),
          "spark.task_run_ms_per_query" -> per("task_run_ms"),
          "spark.shuffle_bytes_per_query" -> per("shuffle_bytes"),
          "spark.rows_read_per_row_returned" ->
            (if (traced.rowsReturned == 0) 0.0
             else (s1("records_read") - s0("records_read")).toDouble / traced.rowsReturned),
          "jvm.gc_ms" -> (Gc.totalMs - gc0).toDouble,
          "trace.overhead_p50_ms" ->
            (Stats.median(traced.latencies) - Stats.median(plain.latencies)))
        tracer.enabled = true
        layers ++= w.layers(traced)
        tracer.enabled = false
        traced
      }
    layers("jvm.peak_heap_mb") = heap.peakMb
    heap.stop()
    layers("spark.cache_storage_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    System.gc(); Thread.sleep(100); System.gc()
    layers("jvm.live_heap_mb") = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    w.verify()
    w.serving.close()
    val sideDiag =
      if (trace && w.isInstanceOf[DashCold]) {
        val (l, d) = ingestLayers(ctx, streamCounters, seconds)
        layers ++= l
        Map("ingest_and_dashboard" -> d)
      } else Map.empty
    layers("trace.spans") = tracer.all.size.toDouble

    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> Stats.median(phase.latencies))
    if (trace) {
      tracer.write(work.resolve(s"spans-$workload-$seed.jsonl"))
      val report = tracer.selfTime.map { case (n, c, tot, self) =>
        f"$n%-32s count=$c%6d total_ms=$tot%10.1f self_ms=$self%10.1f" }
      Files.write(work.resolve(s"selftime-$workload-$seed.txt"),
        scala.jdk.CollectionConverters.SeqHasAsJava(report).asJava)
    }
    val record = Map(
      "seed" -> seed, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spin_ms" -> spinMs(), "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "setups_s" -> setups, "samples" -> phase.latencies.size)
    val result = Map(
      "workload" -> workload,
      "attempted" -> outcome.attempted.sum,
      "failed" -> outcome.failed.sum,
      "problems" -> outcome.problemList,
      "e2e" -> e2e,
      "per_layer" -> layers,
      "diagnostics" -> (phase.diag ++ sideDiag),
      "record" -> record)
    Files.writeString(out, Json.render(result))
    spark.stop()
  }
}
