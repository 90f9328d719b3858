package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

/** Percentiles and span arithmetic. Pure functions, unit-tested. */
object Stats {

  /** Linear-interpolated percentile (the "R-7" rule numpy and Python's
    * `statistics.quantiles(method="inclusive")` use): rank
    * p·(n−1) between the closest sorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median over pairs of `b(i) − a(i)`: the same requests timed two
    * ways. 0 with no pairs. */
  def pairedDifference(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => y - x }
    if (d.isEmpty) 0.0 else median(d)
  }
}

/** One timed call at a layer boundary. Times are nanoseconds from an
  * arbitrary origin; `parent` is -1 for a request's root span. */
final case class Span(id: Long, parent: Long, req: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Self time per span: its duration minus the union of the parts of
    * its interval its children cover (children may overlap when a
    * layer fans out concurrently, so their durations are not simply
    * subtracted). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Per-name (total self ns, call count). */
  def selfByName(spans: Seq[Span]): Map[String, (Long, Int)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => self(s.id)).sum, ss.size)
    }
  }

  def toJsonLine(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}","name":"${s.name}","start":${s.start},"end":${s.end}}"""
}

/** In-memory span recorder. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child, and every
  * span under one [[request]] carries that request's id. A disabled
  * tracer, or one muted on the current thread ([[untraced]]), runs
  * bodies untouched. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  private val muted = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def spans: Seq[Span] = { val b = Seq.newBuilder[Span]; done.forEach(b += _); b.result() }

  /** Whether spans are recorded on this thread. */
  def active: Boolean = enabled && !muted.get

  /** Runs `body` on this thread without recording spans. */
  def untraced[A](body: => A): A = {
    val saved = muted.get
    muted.set(true)
    try body finally muted.set(saved)
  }

  /** Root span of request `req`. */
  def request[A](req: String, name: String)(body: => A): A =
    if (!active) body else open(req, name, -1L)(body)

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else stack.get match {
      case (parent, req) :: _ => open(req, name, parent)(body)
      case Nil                => open("-", name, -1L)(body)
    }

  private def open[A](req: String, name: String, parent: Long)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val saved = stack.get
    stack.set((id, req) :: saved)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, req, name, t0, System.nanoTime()))
      stack.set(saved)
    }
  }
}
