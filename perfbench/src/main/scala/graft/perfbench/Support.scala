package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolation quantile (the common "type 7" definition). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One timed interval of a layer call. */
final case class Span(id: Long, parent: Long, name: String, reqId: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[T](name: String, reqId: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        spans.add(Span(id, parent, name, reqId, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def meanMs(name: String): Double = Stats.mean(all.filter(_.name == name).map(_.ms))

  /** Per span name: count, total ms, and self ms (total minus the time
    * of direct children).
    */
  def selfTime: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val childMs = ss.groupMapReduce(_.parent)(_.ms)(_ + _)
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      val total = xs.map(_.ms).sum
      (n, xs.size, total, total - xs.map(s => childMs.getOrElse(s.id, 0.0)).sum)
    }.sortBy(-_._4)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.reqId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Peak used heap, sampled on a daemon thread, plus GC time totals. */
final class HeapSampler(intervalMs: Long = 10L) {
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(intervalMs)
    }
  }, "perfbench-heap")
  thread.setDaemon(true)
  def start(): Unit = thread.start()
  def reset(): Unit = peak = mem.getHeapMemoryUsage.getUsed
  def peakMb: Double = math.max(peak, mem.getHeapMemoryUsage.getUsed) / 1048576.0
  def stop(): Unit = { running = false; thread.join() }
}

object Gc {
  def totalMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Counts the traffic a workload generates and the operations that fail. */
final class Outcome {
  val attempted = new LongAdder
  val failed = new LongAdder
  private val problems = new ConcurrentLinkedQueue[String]()
  def fail(msg: String): Unit = {
    failed.increment()
    if (problems.size < 20) problems.add(msg)
  }
  def problem(msg: String): Unit = if (problems.size < 20) problems.add(msg)
  def problemList: Seq[String] = problems.asScala.toSeq
}
