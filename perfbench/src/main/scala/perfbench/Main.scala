package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Command-line options, as the runner script passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, cores: Int)

/** One measured phase: per-operation latencies and the work they did. */
final case class Phase(samplesMs: Seq[Double], units: Long, busyS: Double,
    ops: Map[String, Long], errors: Map[String, Long]) {
  def throughput: Double = if (busyS > 0) units / busyS else 0.0
}

/** Everything one run reports to the runner script. */
final class Record(val o: Opts) {
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val oracles = ArrayBuffer.empty[Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var phase: Phase = Phase(Nil, 0, 0, Map.empty, Map.empty)
  var traced: Option[Phase] = None
  var spans: Seq[Map[String, Any]] = Nil

  /** An output check. `kind` names the operation kind whose every
    * execution a failed check marks as wrong. */
  def check(name: String, kind: String, ok: Boolean, detail: => String): Unit = {
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
    checks += Map("name" -> name, "kind" -> kind, "ok" -> ok,
      "detail" -> (if (ok) "" else detail))
  }

  def json: Map[String, Any] = {
    def ph(p: Phase) = Map("samples_ms" -> p.samplesMs, "units" -> p.units,
      "busy_s" -> p.busyS, "throughput_per_s" -> p.throughput,
      "ops" -> p.ops, "errors" -> p.errors)
    Map("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "cores" -> o.cores, "setup" -> setup.toMap, "phase" -> ph(phase),
      "traced_phase" -> traced.map(ph), "checks" -> checks.toSeq,
      "oracles" -> oracles.toSeq, "layers" -> layers.toMap,
      "notes" -> notes.toMap, "peak_rss_mb" -> Main.peakRssMb())
  }
}

/**
 * Benchmark program: one workload per JVM, seeded inputs, timed operations
 * fully materialized, outputs checked after the timed region. Writes a
 * JSON record for the runner script (perfbench/run.py), which computes
 * the reported metrics and runs the DuckDB oracle checks.
 *
 * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
 */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, out) = args
    val o = Opts(workload, seed.toLong, seconds.toDouble, trace == "1", work, out,
      Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = session(o)
    val rec = new Record(o)
    rec.setup("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      if (o.workload == "selftest") SelfTest.run(spark, rec)
      else {
        val w: Workload = o.workload match {
          case "ingest_backfill" => new Backfill(spark, o, rec)
          case "ingest_stream" => new Stream(spark, o, rec)
          case "curation" => new Curation(spark, o, rec)
          case other => sys.error(s"unknown workload: $other")
        }
        w.setup()
        // a traced run splits its time between an untraced and a traced pass
        val seconds = if (o.trace) o.seconds / 2 else o.seconds
        rec.phase = w.measure(seconds, None)
        if (o.trace) {
          val counters = new SparkCounters
          spark.sparkContext.addSparkListener(counters)
          val tracer = new Tracer
          val traced = w.measure(seconds, Some(counters))
          rec.traced = Some(traced)
          w.attribute(tracer, counters, traced)
          spark.sparkContext.removeSparkListener(counters)
          rec.spans = tracer.json
        }
        rec.notes("verify_s") = w.secondsOf(w.verify())._2
      }
      rec.notes("main_s") = (System.nanoTime() - t0) / 1e9
      Files.writeString(Paths.get(out), Json.render(rec.json))
      if (o.trace)
        Files.writeString(Paths.get(out + ".spans.json"), Json.render(rec.spans))
    } finally spark.stop()
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** This process's peak resident set, from /proc (Linux). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

/** One benchmark workload. */
abstract class Workload(val spark: SparkSession, val o: Opts, val rec: Record) {
  /** Generate inputs, warm up; fills `rec.setup`. */
  def setup(): Unit
  /** The timed region; `counters` is set on the traced pass. */
  def measure(seconds: Double, counters: Option[SparkCounters]): Phase
  /** Per-layer attribution on the traced pass; fills `rec.layers`. */
  def attribute(t: Tracer, c: SparkCounters, traced: Phase): Unit
  /** Output checks, outside the timed region. */
  def verify(): Unit

  def path(name: String): String = s"${o.work}/$name"

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` `n` times and return the median duration (s). */
  def medianOf(n: Int)(body: => Unit): Double =
    Stats.median((1 to n).map(_ => secondsOf(body)._2))

  def delete(p: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(p))
  }

  /**
   * A closed loop with one client: run `op(i)` until `seconds` have passed
   * (at least once), in whole cycles of `cycle` ops. `op` returns its kind
   * and the work units it did; throughput counts the time of ops that did
   * units, latency samples the ops whose kind [[isLatency]] accepts. On the traced pass each op also
   * records its driver job gaps.
   */
  def closedLoop(seconds: Double, counters: Option[SparkCounters], cycle: Int = 1)
      (op: Int => (String, Long)): Phase = {
    val samples = ArrayBuffer.empty[Double]
    val ops = mutable.LinkedHashMap.empty[String, Long]
    val errors = mutable.LinkedHashMap.empty[String, Long]
    var units = 0L
    var busy = 0.0
    val start = System.nanoTime()
    var readBefore = counters.map(_.inputBytes.get).getOrElse(0L)
    var i = 0
    while (i == 0 || i % cycle != 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val (kind, u) = op(i)
        val dt = (System.nanoTime() - t0) / 1e9
        val toMs = System.currentTimeMillis()
        if (isLatency(kind)) samples += dt * 1e3
        if (u > 0) busy += dt
        units += u
        ops(kind) = ops.getOrElse(kind, 0L) + 1
        counters.foreach { c =>
          c.quiesce()
          gaps += c.driverGaps(fromMs, toMs)
          val read = c.inputBytes.get
          inputBytes(kind) = inputBytes.getOrElse(kind, 0L) + read - readBefore
          readBefore = read
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          errors("op") = errors.getOrElse("op", 0L) + 1
      }
      i += 1
    }
    Phase(samples.toSeq, units, busy, ops.toMap, errors.toMap)
  }

  /** Whether ops of this kind are latency samples. */
  def isLatency(kind: String): Boolean = true

  /** (jobs, gap s, first-job gap s) per traced op. */
  val gaps = ArrayBuffer.empty[(Int, Double, Double)]
  /** Input bytes read by traced ops, by op kind. */
  val inputBytes = mutable.LinkedHashMap.empty[String, Long]

  /** Per-layer metrics every workload reports, from the traced pass. */
  def sparkLayers(c: SparkCounters, traced: Phase): Unit = {
    c.quiesce()
    val n = math.max(1L, traced.ops.values.sum).toDouble
    val s = c.snapshot
    rec.layers ++= Seq(
      "spark.tasks" -> s("tasks") / n,
      "spark.executor_run_s" -> s("run_s") / n,
      "spark.shuffle_write_bytes" -> s("shuffle_write_bytes") / n,
      "spark.spill_bytes" -> s("spill_bytes") / n,
      "spark.gc_s" -> s("gc_s") / n,
      "spark.checkpoints" -> s("checkpoints") / n,
      "driver.jobs" -> Stats.median(gaps.map(_._1.toDouble).toSeq),
      "driver.gap_s" -> Stats.median(gaps.map(_._2).toSeq),
      "driver.first_job_gap_s" -> Stats.median(gaps.map(_._3).toSeq))
    val untraced = rec.phase.throughput
    rec.layers("trace.overhead_pct") =
      if (traced.throughput > 0) (untraced / traced.throughput - 1) * 100 else 0.0
  }
}
