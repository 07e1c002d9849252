package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work done while a span was the innermost active span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. Children run on the same driver thread,
  * strictly inside their parent, so self time is the duration minus the
  * summed child durations.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val unit: Long, val startNs: Long) {
  var endNs: Long = startNs
  var childNs: Long = 0L
  val own = new Counters
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
}

/** In-memory span recorder. Each span sets a Spark job group, and the
  * listener adds the executor CPU, shuffle, spill, job and task counts
  * of the jobs started under that group to the span. Spans are written
  * out once, when the run ends. An untraced run registers no listener.
  * The tracer times itself: `costNs` is the time spent opening and
  * closing spans on the driver thread plus the time in its listener.
  */
final class Tracer(sc: SparkContext, traced: Boolean) {
  private val Prefix = "perfbench-span-"
  private val GroupKey = "spark.jobGroup.id"

  var enabled = false
  var unit: Long = -1L

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val cost = new AtomicLong(0L)

  def costNs: Long = cost.get

  if (traced) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .filter(_.startsWith(Prefix)).foreach { g =>
          val id = g.stripPrefix(Prefix).toInt
          counters(id).jobs += 1
          e.stageIds.foreach(st => stageSpan.put(st, id))
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      if (id >= 0) {
        val c = counters(id)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally cost.addAndGet(System.nanoTime() - t0)
  }

  private def counters(id: Int): Counters =
    bySpan.computeIfAbsent(id, _ => new Counters)

  private def setGroup(top: Option[Span]): Unit = top match {
    case Some(p) => sc.setJobGroup(Prefix + p.id, p.name)
    case None    => sc.clearJobGroup()
  }

  /** Open a span as a child of the innermost open span; null when off. */
  def begin(name: String): Span =
    if (!enabled) null
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name,
        unit, System.nanoTime())
      spans += s
      stack = s :: stack
      setGroup(Some(s))
      cost.addAndGet(System.nanoTime() - s.startNs)
      s
    }

  /** Close `s`, which must be the innermost open span. */
  def end(s: Span): Unit =
    if (s != null) {
      require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption.foreach(_.childNs += s.endNs - s.startNs)
      setGroup(stack.headOption)
      cost.addAndGet(System.nanoTime() - s.endNs)
    }

  def span[T](name: String)(body: => T): T = {
    val s = begin(name)
    try body finally end(s)
  }

  /** Every recorded span, with its Spark counters complete. */
  def finished(): Seq[Span] = {
    org.apache.spark.BenchBus.drain(sc)
    spans.foreach(s => Option(bySpan.get(s.id)).foreach(s.own += _))
    bySpan.clear()
    spans.toSeq
  }
}

/** Per-layer aggregation over a finished trace. */
final class TraceView(val spans: Seq[Span], val units: Seq[Long]) {
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val c = new Counters
    c += s.own
    children.getOrElse(s.id, Nil).foreach(ch => c += subtree(ch))
    c
  }

  /** Median over traced units of f summed over the unit's spans named
    * `name`; None when no unit has such a span.
    */
  def perUnit(name: String)(f: Span => Double): Option[Double] = {
    val byUnit = named(name).filter(s => units.contains(s.unit))
      .groupBy(_.unit).values.map(_.map(f).sum).toSeq
    if (byUnit.isEmpty) None else Some(Stats.median(byUnit))
  }

  def selfS(name: String): Option[Double] = perUnit(name)(_.selfS)

  /** Median over the spans named `name` (set-up steps repeat per set-up). */
  def perCall(name: String)(f: Span => Double): Option[Double] = {
    val xs = named(name).map(f)
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }

  /** cpu ÷ (wall × cores) over every span named in `names`, per unit. */
  def cpuUtil(names: Seq[String], cores: Int): Option[Double] = {
    val ss = spans.filter(s => names.contains(s.name) && units.contains(s.unit))
    val wall = ss.map(_.wallS).sum
    if (ss.isEmpty || wall <= 0) None
    else Some(ss.map(s => subtree(s).cpuNs).sum / 1e9 / (wall * cores))
  }

  /** Per-unit median of a subtree counter summed over `names`. */
  def countPerUnit(names: Seq[String])(f: Counters => Double): Option[Double] = {
    val byUnit = spans.filter(s => names.contains(s.name) && units.contains(s.unit))
      .groupBy(_.unit).values.map(_.map(s => f(subtree(s))).sum).toSeq
    if (byUnit.isEmpty) None else Some(Stats.median(byUnit))
  }

  /** Unit wall not covered by any top-level span of that unit. */
  def unattributed(unitWallS: Map[Long, Double]): Option[Double] = {
    val xs = units.flatMap { u =>
      unitWallS.get(u).map { w =>
        w - spans.filter(s => s.unit == u && s.parent == -1).map(_.wallS).sum
      }
    }
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }
}
