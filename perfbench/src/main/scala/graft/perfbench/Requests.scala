package graft.perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One query-API request. Range requests carry start/end/step; instant
  * requests an optional `time`.
  */
final case class QueryReq(id: Long, query: String, range: Boolean,
    startS: Long = 0L, endS: Long = 0L, stepS: Long = 0L,
    timeS: Option[Long] = None, maxSourceResS: Option[Long] = None) {

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def path: String =
    if (range) {
      val msr = maxSourceResS.fold("")(m => s"&max_source_resolution=${m}s")
      s"/api/v1/query_range?query=${enc(query)}&start=$startS&end=$endS&step=$stepS$msr"
    } else s"/api/v1/query?query=${enc(query)}" + timeS.fold("")(t => s"&time=$t")
}

/** Seeded PromQL request generators over the corpus families:
  * counters `click`/`view`/`purchase`, gauge `signup`, histogram
  * `error`; labels `k` (0..99) and `instance` (i0..i3).
  */
object Requests {
  private val Counters = Vector("click", "view", "purchase")

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  private def matchers(r: SplittableRandom): String = r.nextInt(6) match {
    case 0 => s"""{k="${r.nextInt(100)}"}"""
    case 1 => s"""{instance="i${r.nextInt(4)}"}"""
    case 2 => s"""{k=~"${r.nextInt(10)}.*"}"""
    case 3 => s"""{instance!="i${r.nextInt(4)}"}"""
    case _ => ""
  }

  private def by(r: SplittableRandom): String =
    pick(r, Vector("k", "instance", "k, instance"))

  /** One shape of the cold mix: its expression (fresh label values per
    * call) and, for range shapes, (instants, step seconds).
    */
  private final case class Shape(expr: SplittableRandom => String,
      grid: Option[(Int, Long)])

  private def k(r: SplittableRandom): String = s"""{k="${r.nextInt(100)}"}"""
  private def inst(r: SplittableRandom): String = s"""{instance="i${r.nextInt(4)}"}"""
  // 1.* .. 9.* each match 11 of the 100 `k` values
  private def kRe(r: SplittableRandom): String = s"""{k=~"${1 + r.nextInt(9)}.*"}"""
  private def notInst(r: SplittableRandom): String = s"""{instance!="i${r.nextInt(4)}"}"""
  private def c(r: SplittableRandom): String = pick(r, Counters)

  // The oracle-gated shape inventory, one template each. Windows and
  // steps are never multiples of 1h, so the rollup router declines every
  // request. Windows, steps, matcher kinds and groupings are fixed per
  // shape so that every run draws the same mix of plan shapes and sizes;
  // the seed moves label values, families and evaluation times.
  private val Shapes: Vector[Shape] = Vector(
    Shape(r => s"sum by (k) (rate(${c(r)}${inst(r)}[250m]))", None),
    Shape(r => s"${c(r)}${kRe(r)}", Some((5, 900L))),
    Shape(r => s"histogram_quantile(0.9, rate(error${inst(r)}[1430m]))", None),
    Shape(r => s"sum by (instance) (${c(r)}${kRe(r)})", Some((4, 1500L))),
    Shape(r => s"rate(${c(r)}${k(r)}[130m])", Some((4, 2700L))),
    Shape(r => s"topk(3, sum by (k) (increase(${c(r)}${notInst(r)}[470m])))", None),
    Shape(r => s"sum by (k, instance) (increase(${c(r)}${kRe(r)}[470m]))", Some((4, 2100L))),
    Shape(r => s"${pick(r, Vector("max", "min", "avg", "sum"))}_over_time(signup${inst(r)}[250m])",
      Some((4, 5400L))),
    Shape(r => s"${c(r)}${k(r)} / on(k, instance) ${c(r)}", None),
    Shape(r => s"histogram_quantile(0.9, rate(error${inst(r)}[1430m]))", Some((3, 1500L))),
    Shape(r => s"topk(3, sum by (k) (rate(${c(r)}${notInst(r)}[95m])))", Some((4, 900L))),
    Shape(r => s"sum by (k) (rate(${c(r)}${kRe(r)}[250m])) + sum by (k) (rate(${c(r)}[250m]))",
      Some((3, 2700L))))

  /** The `dash-cold` stream: the shapes in turn (4 of 12 instant
    * queries, 8 query_range), each with seeded label values and a seeded
    * evaluation end inside the corpus' last 20 days — distinct requests.
    */
  def cold(seed: Long, instantS: Long): Iterator[QueryReq] = {
    val r = new SplittableRandom(seed)
    Iterator.from(1).map { i =>
      val shape = Shapes((i - 1) % Shapes.size)
      val end = instantS - r.nextLong(20L * 86400L)
      shape.grid match {
        case Some((n, step)) =>
          QueryReq(i, shape.expr(r), range = true, end - (n - 1) * step, end, step)
        case None =>
          QueryReq(i, shape.expr(r), range = false,
            timeS = if (r.nextBoolean()) Some(end) else None)
      }
    }
  }

  /** A panel of the refresh dashboard: an hour-aligned expression, its
    * step, and its width in steps.
    */
  final case class Panel(query: String, stepS: Long, width: Int)

  /** 12 seeded panels: rate/increase/sum-by over 1h/2h/6h windows with
    * matching steps, the shapes the rollup router and results cache
    * serve.
    */
  def dashboard(seed: Long): Vector[Panel] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Vector.fill(12) {
      val c = pick(r, Counters)
      val m = matchers(r)
      val (w, step) = pick(r, Vector(("1h", 3600L), ("2h", 7200L), ("6h", 21600L)))
      val q = r.nextInt(4) match {
        case 0 => s"sum by (${by(r)}) (rate($c$m[$w]))"
        case 1 => s"sum by (${by(r)}) (increase($c$m[$w]))"
        case 2 => s"sum(rate($c$m[$w]))"
        case _ => s"sum by (k) (increase($c$m[$w]))"
      }
      Panel(q, step, 24 + r.nextInt(25))
    }
  }

  /** Refresh cycles: cycle `c` asks every panel for the window ending
    * `cycles - 1 - c` steps before the last aligned step of the corpus,
    * so the end moves one step per cycle and wraps after reaching it.
    */
  def refresh(panels: Vector[Panel], instantS: Long, cycles: Int,
      maxSourceResS: Long): Iterator[QueryReq] =
    Iterator.from(0).map { i =>
      val p = panels(i % panels.size)
      val c = (i / panels.size) % cycles
      val end = instantS / p.stepS * p.stepS - (cycles - 1 - c).toLong * p.stepS
      QueryReq(i + 1L, p.query, range = true,
        end - (p.width - 1).toLong * p.stepS, end, p.stepS,
        maxSourceResS = Some(maxSourceResS))
    }
}
