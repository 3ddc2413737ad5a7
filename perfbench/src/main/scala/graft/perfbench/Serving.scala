package graft.perfbench

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Graft
import graft.operators.{Downsample, Metrics}
import graft.promql.{Compiler, ResultsCache}
import graft.sources.{QueryEndpoint, RemoteWriteSink, ScrapeEndpoint}
import graft.streaming.{ExpositionRegistry, MetricStream}

/** A remote-write sink whose `receive` calls are traced. */
final class TracedSink(spark: SparkSession, tracer: Tracer)
    extends RemoteWriteSink(spark) {
  override def receive(body: Array[Byte], atMs: Long,
      contentType: Option[String]): Long =
    tracer.span("sources.rw_receive")(super.receive(body, atMs, contentType))
}

/** The serving stack a workload talks to. */
final class Serving(val query: HttpServer, val scrape: Option[HttpServer],
    val stream: Option[StreamingQuery]) {
  def queryBase: String = s"http://127.0.0.1:${query.getAddress.getPort}"
  def scrapeUrl: String =
    s"http://127.0.0.1:${scrape.get.getAddress.getPort}/metrics"
  def close(): Unit = {
    stream.foreach(_.stop())
    scrape.foreach(_.stop(0))
    query.stop(0)
  }
}

object Serving {
  /** Build the session state a workload serves from and start listening:
    * events adapter, corpus instant, the 1h rollups (`rollups`), and the
    * remote-write stream with its `/metrics` door (`ingest`). Every call
    * first drops what the previous call built, so each one is a full
    * set-up.
    */
  def setUp(spark: SparkSession, dir: String, tracer: Tracer,
      rollups: Boolean, ingest: Boolean, resultsCache: Boolean): (Serving, Double) = {
    Graft.releaseCaches(spark)
    Downsample.evictRollups(spark, dir)
    ResultsCache.clear()
    ExpositionRegistry.clear()
    // start every set-up from a collected heap and an idle cleaner, so a
    // GC pause or cleanup left over from the previous one is not timed
    System.gc()
    Thread.sleep(100)
    val t0 = System.nanoTime()
    val serving = tracer.span("setup") {
      tracer.span("operators.events_adapter")(Metrics.metricEvents(spark, dir).count())
      tracer.span("promql.instant")(Compiler.instantSeconds(spark, dir))
      if (rollups) tracer.span("operators.rollup_build")(Downsample.warmRollups(spark, dir))
      val sink =
        if (ingest) Some(new TracedSink(spark, tracer)) else None
      val stream = sink.map { s =>
        tracer.span("streaming.start")(MetricStream.startServingSink(
          MetricStream.runningCounterTotals(s.events), s"perfbench_rw_${System.nanoTime()}"))
      }
      val scrape = if (ingest) Some(ScrapeEndpoint.start(0)) else None
      val query = tracer.span("sources.endpoint_start")(
        QueryEndpoint.start(spark, dir, 0, remoteWrite = sink,
          resultsCache = resultsCache))
      new Serving(query, scrape, stream)
    }
    (serving, (System.nanoTime() - t0) / 1e9)
  }
}
