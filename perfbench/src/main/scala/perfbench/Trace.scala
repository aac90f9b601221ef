package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A closed span: [start, end) in nanoTime, with its parent span id
  * (0 = none) and the id of the traced run it belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long, run: Long) {
  def dur: Long = end - start
}

/** A finished Spark job, its interval mapped onto the span clock. */
final case class Job(id: Int, span: Long, label: String, start: Long, end: Long)

/** In-memory tracing of calls the benchmark makes into the program's
  * layers. Spans nest per thread; threads started inside a span (the
  * sync pool) inherit it as their parent. The current span id also rides
  * a SparkContext local property, so the job listener can attribute each
  * job to the span that submitted it. Everything is a no-op while off.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  private val enabled = new AtomicBoolean(false)
  private val ids = new AtomicLong(0)
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val closed = new ConcurrentLinkedQueue[Span]()
  @volatile private var sc: Option[SparkContext] = None
  @volatile private var run: Long = 0

  def start(context: Option[SparkContext], runId: Long): Unit = {
    sc = context; run = runId; enabled.set(true)
  }
  def stop(): Unit = enabled.set(false)
  def spans: Seq[Span] = closed.asScala.toVector
  def clear(): Unit = closed.clear()

  /** Measured cost of one span on this JVM (ns): open and close 2000
    * empty spans with tracing on. Tracing overhead = spans x this cost.
    */
  def costNs(context: SparkContext): Double = {
    val was = enabled.get
    val saved = closed.size
    start(Some(context), run)
    val t0 = System.nanoTime()
    (0 until 2000).foreach(_ => span("bench", "cost")(()))
    val ns = (System.nanoTime() - t0) / 2000.0
    if (!was) stop()
    // drop the probe's own spans
    val keep = closed.asScala.toVector.take(saved)
    closed.clear(); keep.foreach(closed.add)
    ns
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled.get) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      val prop = sc.map(_.getLocalProperty(SpanProperty))
      current.set(id)
      sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        closed.add(Span(id, parent, layer, name, t0, System.nanoTime(), run))
        current.set(parent)
        sc.foreach(_.setLocalProperty(SpanProperty, prop.orNull))
      }
    }
}

/** Counts and times Spark jobs, stages, tasks and shuffle bytes. Job
  * times come from the event timestamps, so late delivery on the listener
  * bus does not skew them; [[fence]] waits until every earlier event has
  * been delivered.
  */
final class JobListener extends SparkListener {
  // epoch ms -> nanoTime clock of the spans
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private case class Open(span: Long, label: String, start: Long)
  private val open = mutable.Map.empty[Int, Open]
  private val done = new ConcurrentLinkedQueue[Job]()
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val bytesWritten = new AtomicLong
  @volatile private var fenceSeen: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProperty))).map(_.toLong).getOrElse(0L)
    val label = p.flatMap(x => Option(x.getProperty(JobListener.Description))).getOrElse("")
    if (label.startsWith("perfbench:fence:")) fenceSeen = label
    else open(e.jobId) = Open(span, label, e.time * 1000000L + offsetNs)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      done.add(Job(e.jobId, o.span, o.label, o.start, e.time * 1000000L + offsetNs))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def jobs: Seq[Job] = done.asScala.toVector.sortBy(_.id)
  def reset(): Unit = synchronized {
    open.clear(); done.clear()
    Seq(stages, tasks, shuffleBytes, bytesWritten).foreach(_.set(0))
  }

  /** Run a one-task marker job and wait until the listener sees it: the
    * bus delivers in order, so every earlier event has arrived.
    */
  def fence(sc: SparkContext): Unit = {
    val tag = s"perfbench:fence:${System.nanoTime()}"
    val prev = sc.getLocalProperty(JobListener.Description)
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 30000000000L
    while (fenceSeen != tag && System.nanoTime() < deadline) Thread.sleep(2)
    require(fenceSeen == tag, "Spark listener bus did not drain within 30 s")
    // the marker's own end event trails its start
    Thread.sleep(20)
  }
}

/** Interval arithmetic over [start, end) pairs. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(xs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}

/** Per-layer attribution of one traced window: each span's self time is
  * its duration minus the union of its children (child spans and the
  * Spark jobs it submitted), clipped to the span.
  */
final class LayerReport(spans: Seq[Span], jobs: Seq[Job], windowStart: Long, windowEnd: Long) {
  private val children: Map[Long, Seq[(Long, Long)]] = {
    val s = spans.groupBy(_.parent).view.mapValues(_.map(x => (x.start, x.end))).toMap
    val j = jobs.groupBy(_.span).view.mapValues(_.map(x => (x.start, x.end))).toMap
    (s.keySet ++ j.keySet).map(k => k -> (s.getOrElse(k, Nil) ++ j.getOrElse(k, Nil))).toMap
  }

  def selfNs(s: Span): Long =
    s.dur - Intervals.union(Intervals.clip(children.getOrElse(s.id, Nil), s.start, s.end))

  def layerSelfMs(layer: String): Double =
    spans.filter(_.layer == layer).map(selfNs).sum / 1e6

  def layerMs(layer: String, name: String): Double =
    spans.filter(s => s.layer == layer && s.name == name).map(_.dur).sum / 1e6

  def calls(layer: String, names: Set[String]): Int =
    spans.count(s => s.layer == layer && names(s.name))

  private lazy val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** True when span `id` is `anc` or lies below it. */
  def under(id: Long, anc: Span): Boolean = {
    var cur = id
    var hops = 0
    while (cur != 0 && hops < 1000) {
      if (cur == anc.id) return true
      cur = byId.get(cur).map(_.parent).getOrElse(0L)
      hops += 1
    }
    false
  }

  /** Jobs submitted inside any span of `layer` named in `names`. */
  def jobsUnder(layer: String, names: Set[String]): Int = {
    val roots = spans.filter(s => s.layer == layer && names(s.name))
    jobs.count(j => roots.exists(r => under(j.span, r)))
  }

  def wallNs: Long = windowEnd - windowStart
  def jobBusyNs: Long = Intervals.union(Intervals.clip(jobs.map(j => (j.start, j.end)), windowStart, windowEnd))

  /** Wall time that no layer span (anything but the benchmark's own
    * `bench` op spans) and no job covers: the benchmark's own code and
    * the gaps between ops.
    */
  def unattributedNs: Long = {
    val covered = spans.filter(_.layer != "bench").map(s => (s.start, s.end)) ++
      jobs.map(j => (j.start, j.end))
    wallNs - Intervals.union(Intervals.clip(covered, windowStart, windowEnd))
  }
}

object JobListener {
  /** The local property `SparkContext.setJobDescription` sets. */
  val Description = "spark.job.description"
}
