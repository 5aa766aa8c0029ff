package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span: `parent` is the span that caused it, `prefix` see [[Tracer]]. */
final case class Span(id: Int, name: String, trace: Long, parent: Int,
    prefix: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans recorded around the benchmark's calls into each layer, kept in
 * memory and written out when the run ends.
 *
 * Spark is lazy, so a layer's span covers materializing the pipeline
 * prefix that ends at that layer's call. `prefix` names the span that
 * materialized the same prefix minus this layer; Spark recomputes that
 * prefix inside this span, so the layer's self time is its duration minus
 * the prefix span's duration (or its full duration when its input was
 * already materialized).
 */
final class Tracer {

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List.empty[Int]

  /** Time `body` as a span; its parent is the innermost open span. */
  def span[T](name: String, trace: Long, prefix: Int = -1)(body: => T): (T, Int) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, id)
    } finally {
      open = open.tail
      spans += Span(id, name, trace, parent, prefix, t0, System.nanoTime())
    }
  }

  private def byId(id: Int): Span = spans.find(_.id == id).get

  def selfSeconds(s: Span): Double =
    if (s.prefix < 0) s.seconds else s.seconds - byId(s.prefix).seconds

  /** Median self time of the spans named `name`, in seconds. */
  def medianSelf(name: String): Double =
    Stats.median(spans.filter(_.name == name).map(selfSeconds).toSeq)

  def json: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "trace" -> s.trace,
      "parent" -> s.parent, "prefix" -> s.prefix,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s))
  }
}

/**
 * Task and job counters from a public [[SparkListener]]. Listener events
 * arrive asynchronously, so readers call [[quiesce]] first.
 */
final class SparkCounters extends SparkListener {
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val checkpoints = new AtomicLong
  /** (job id, start ms) and (job id, end ms) of every job seen. */
  private val starts = new ConcurrentLinkedQueue[(Int, Long)]
  private val ends = new ConcurrentLinkedQueue[(Int, Long)]
  @volatile private var lastEventNs = System.nanoTime()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    lastEventNs = System.nanoTime()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.add(e.jobId -> e.time)
    // the result stage is named after the call site that ran the job
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint"))
      checkpoints.incrementAndGet()
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ends.add(e.jobId -> e.time)
    lastEventNs = System.nanoTime()
  }

  /** Wait until no listener event has arrived for 150 ms (at most 3 s). */
  def quiesce(): Unit = {
    val limit = System.nanoTime() + 3000000000L
    while (System.nanoTime() - lastEventNs < 150000000L && System.nanoTime() < limit)
      Thread.sleep(20)
  }

  def snapshot: Map[String, Double] = Map(
    "tasks" -> tasks.get.toDouble, "run_s" -> runMs.get / 1e3,
    "gc_s" -> gcMs.get / 1e3, "shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "checkpoints" -> checkpoints.get.toDouble)

  /**
   * Jobs that started within [fromMs, toMs], and the driver time in that
   * window during which no job ran: (jobs, total gap s, gap before the
   * first job s).
   */
  def driverGaps(fromMs: Long, toMs: Long): (Int, Double, Double) = {
    val endOf = ends.asScala.toMap
    val jobs = starts.asScala.toSeq.filter { case (_, t) => t >= fromMs && t <= toMs }
      .map { case (id, t) => (t, endOf.getOrElse(id, toMs)) }.sortBy(_._1)
    if (jobs.isEmpty) return (0, (toMs - fromMs) / 1e3, (toMs - fromMs) / 1e3)
    var covered = 0L
    var curS = jobs.head._1
    var curE = jobs.head._2
    jobs.tail.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (jobs.size, (toMs - fromMs - covered) / 1e3, (jobs.head._1 - fromMs) / 1e3)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON writer for the run record the runner script reads. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
