package perfbench

import graft.ingest.Ingest
import graft.ops.Dedup
import graft.pipeline.DatePartition
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The two ingest tiers, as the benchmark drives them. */
object Tiers {

  /** Gateway tier: validate, enrich with the fixed server timestamp,
    * Avro-encode; the frames are written as parquet. */
  def gateway(incoming: DataFrame): DataFrame =
    Ingest.serialize(Ingest.pipeline(incoming, Some(Gen.ServerTs)))

  /** Tail tier up to the write: decode the frames, drop duplicate ids. */
  def tail(frames: DataFrame): DataFrame =
    Dedup.byKey(Ingest.deserialize(frames), Seq("id"))

  def runBatch(spark: SparkSession, input: String, frames: String,
      landed: String): Unit = {
    gateway(spark.read.parquet(input)).write.parquet(frames)
    DatePartition.appendPartitioned(tail(spark.read.parquet(frames)), landed)
  }

  /** Parquet data files under `dir` and their total bytes. */
  def dataFiles(dir: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val fs = walk(new File(dir))
    (fs.size, fs.map(_.length).sum)
  }

  /** The `year=/month=/day=` partition directories under `dir`. */
  def dayPartitions(dir: String): Set[String] = {
    def sub(f: File) = Option(f.listFiles()).toSeq.flatten
      .filter(x => x.isDirectory && x.getName.contains("="))
    (for (y <- sub(new File(dir)); m <- sub(y); d <- sub(m))
      yield s"${y.getName}/${m.getName}/${d.getName}").toSet
  }

  /** Check a landing of rows [0, n) against the generator's expectation. */
  def checkLanded(rec: Record, kind: String, spark: SparkSession,
      landed: String, exp: Gen.Expected): Unit = {
    val (rows, distinct, hash) = Gen.fingerprint(spark.read.parquet(landed))
    rec.check(s"$kind.landed_rows", kind, rows == exp.rows,
      s"landed $rows rows, expected ${exp.rows} distinct valid ids")
    rec.check(s"$kind.landed_distinct_ids", kind, distinct == rows,
      s"$distinct distinct ids in $rows rows")
    rec.check(s"$kind.landed_content", kind, hash == exp.hashSum,
      s"row-hash sum $hash, expected ${exp.hashSum}")
    val days = dayPartitions(landed)
    rec.check(s"$kind.day_partitions", kind, days == exp.days,
      s"partitions ${days.toSeq.sorted.take(5)}..., expected ${exp.days.size}")
  }
}

/**
 * `ingest_backfill`: a closed loop with one client. Each cycle runs a
 * one-shot batch of generated incoming events through both tiers into fresh
 * directories, registers the landing as the external table `landed`, then
 * runs [[passes]] passes of the analyst SQL mix ([[AnalystMix]]) beside it:
 * registry queries over a generated `events.parquet` and ad-hoc SQL over
 * the landed table. Throughput is input events per second of batch time;
 * latency samples are the queries.
 */
final class Backfill(spark: SparkSession, o: Opts, r: Record)
    extends Workload(spark, o, r) {

  val events = 20000L
  val tableRows = 20000L
  /** Passes of the SQL mix per landed batch. With two, a cycle takes
    * 6.5–11 s on a 4-core box, so a 12 s run always lands two batches and
    * takes 32 query samples, and its tail is always the same percentile. */
  val passes = 2
  val input: String = path("input")
  val tables: String = path("tables")
  val mix = new AnalystMix(spark, tables)
  private var lastBatch = Int.MinValue
  private var collector: Option[QueryCollector] = None

  def batchDir(i: Int): String = path(s"batch-$i")

  override def isLatency(kind: String): Boolean = kind != "batch"

  def setup(): Unit = {
    rec.notes("events_per_batch") = events
    rec.notes("events_table_rows") = tableRows
    rec.notes("mix") = mix.names
    rec.setup("generate_s") = medianOf(3) {
      Gen.incoming(spark, o.seed, 0, events).write.mode("overwrite").parquet(input)
      Gen.eventsTable(spark, o.seed, tableRows).coalesce(1)
        .write.mode("overwrite").parquet(s"$tables/events.parquet")
    }
    // two warm-up cycles, three passes of the mix in all (queries are
    // still 25% slower after two); the first cycle's registry results are
    // the ones the oracle checks read
    rec.setup("warmup_s") = secondsOf {
      batch(-1)
      mix.names.foreach(q => mix.warm(q, path(s"results/$q")))
      batch(-2)
      for (_ <- 1 to 2; q <- mix.names) Noop(mix.frame(q))
    }._2
  }

  /** Land one batch and make it the table the ad-hoc SQL reads. */
  private def batch(k: Int): Unit = {
    val landed = s"${batchDir(k)}/landed"
    Tiers.runBatch(spark, input, s"${batchDir(k)}/frames", landed)
    spark.sql("DROP TABLE IF EXISTS landed")
    DatePartition.registerExternalTable(spark, "landed", landed,
      Ingest.deserialize(spark.read.parquet(s"${batchDir(k)}/frames")))
    if (lastBatch != Int.MinValue) delete(batchDir(lastBatch))
    lastBatch = k
  }

  def measure(seconds: Double, counters: Option[SparkCounters]): Phase = {
    counters.foreach { _ =>
      val c = new QueryCollector
      spark.listenerManager.register(c)
      collector = Some(c)
    }
    val cycle = 1 + passes * mix.names.size
    val base = if (counters.isEmpty) 0 else 100000
    closedLoop(seconds, counters, cycle) { i =>
      if (i % cycle == 0) { batch(base + i / cycle); ("batch", events) }
      else {
        val q = mix.names((i % cycle - 1) % mix.names.size)
        Noop(mix.frame(q))
        (q, 0L)
      }
    }
  }

  def attribute(t: Tracer, c: SparkCounters, traced: Phase): Unit = {
    sparkLayers(c, traced)
    val qes = collector.toSeq.flatMap(_.done.asScala)
    collector.foreach(spark.listenerManager.unregister)
    val queries = traced.ops.filter(_._1 != "batch")
    rec.layers ++= mix.layers(qes, s"${batchDir(lastBatch)}/landed",
      queries.keys.toSeq.map(inputBytes.getOrElse(_, 0L)).sum.toDouble, queries.values.sum)
    // A staged batch: each layer's prefix materialized on its own.
    val dir = path("staged")
    val in = spark.read.parquet(input)
    t.span("staged_batch", 0) {
      val (_, ve) = t.span("ingest.validate_enrich", 0) {
        Noop(Ingest.pipeline(in, Some(Gen.ServerTs)))
      }
      t.span("functions.avro_encode", 0, prefix = ve) {
        Tiers.gateway(in).write.parquet(s"$dir/frames")
      }
      val frames = spark.read.parquet(s"$dir/frames")
      val (_, dec) = t.span("functions.avro_decode", 0) {
        Noop(Ingest.deserialize(frames))
      }
      val (_, dd) = t.span("ops.dedup", 0, prefix = dec) {
        Noop(Tiers.tail(frames))
      }
      t.span("pipeline.write", 0, prefix = dd) {
        DatePartition.appendPartitioned(Tiers.tail(frames), s"$dir/landed")
      }
    }
    val decoded = spark.read.parquet(s"$dir/frames").count()
    val landedRows = spark.read.parquet(s"$dir/landed").count()
    val injected = events - expectation.invalidRows - expectation.rows
    rec.layers("ops.dedup_removed_ratio") =
      if (injected > 0) (decoded - landedRows).toDouble / injected else 1.0
    val (files, bytes) = Tiers.dataFiles(s"$dir/landed")
    rec.layers("pipeline.files_written") = files
    rec.layers("pipeline.bytes_per_event") = bytes.toDouble / math.max(1L, landedRows)
    delete(dir)
    streamLayers()
    Seq("ingest.validate_enrich" -> "ingest.validate_enrich_s",
      "functions.avro_encode" -> "functions.avro_encode_s",
      "functions.avro_decode" -> "functions.avro_decode_s",
      "ops.dedup" -> "ops.dedup_s",
      "pipeline.write" -> "pipeline.write_s").foreach { case (span, metric) =>
      rec.layers(metric) = t.medianSelf(span)
    }
  }

  /**
   * The streaming tail's layers, from a short open-loop run of the
   * `ingest_stream` workload beside this one: its per-trigger and state
   * metrics land in this run's per-layer metrics, its output checks in
   * this run's checks.
   */
  private def streamLayers(): Unit = {
    val sub = new Record(o.copy(seconds = 5))
    val stream = new Stream(spark, sub.o, sub)
    stream.setup()
    val phase = stream.measure(sub.o.seconds, None)
    stream.attribute(new Tracer, new SparkCounters, phase)
    stream.verify()
    rec.layers ++= sub.layers.filter { case (k, _) =>
      k.startsWith("streaming.") || k.startsWith("generator.") }
    rec.checks ++= sub.checks.map(c => c.updated("name", s"stream.${c("name")}"))
  }

  private lazy val expectation: Gen.Expected = Gen.expected(spark, o.seed, 0, events)

  def verify(): Unit = {
    val exp = expectation
    val rejects = Ingest.rejects(spark.read.parquet(input)).count()
    rec.check("backfill.rejects", "batch", rejects == exp.invalidRows,
      s"$rejects rejects, expected ${exp.invalidRows} invalid envelopes")
    Tiers.checkLanded(rec, "batch", spark, s"${batchDir(lastBatch)}/landed", exp)
    mix.verify(rec, exp, q => path(s"results/$q"))
  }
}
