package perfbench

import graft.ingest.Ingest
import graft.pipeline.DatePartition
import graft.streaming.EventStream
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import scala.jdk.CollectionConverters._

/**
 * `ingest_stream`: an open loop. One generator thread drops Avro-frame
 * files into a feed directory on a fixed schedule; a file stream decodes,
 * de-duplicates and lands them in date partitions. Each file's latency runs
 * from its scheduled send time to the commit of the micro-batch that
 * landed it.
 */
final class Stream(spark: SparkSession, o: Opts, r: Record)
    extends Workload(spark, o, r) {

  val perFile = 1000
  val periodMs = 250L
  val warmFiles = 2
  val measured: Int = math.max(1, math.ceil(o.seconds * 1000 / periodMs).toInt)
  val nFiles: Int = warmFiles + measured
  val stage: String = path("stage")
  private var slots: IndexedSeq[File] = IndexedSeq.empty
  private var slotRows: Map[String, Long] = Map.empty
  private var pending: Option[Run] = None
  private val landings = scala.collection.mutable.ArrayBuffer.empty[String]
  private var lastRun: Option[Run] = None

  private val frameSchema = StructType(Seq(StructField("value", BinaryType)))

  /** One running stream over its own feed, landing and checkpoint. */
  final class Run(tag: String) {
    val feed: String = path(s"feed-$tag")
    val tmp: String = path(s"feed-tmp-$tag")
    val landed: String = path(s"landed-$tag")
    val ckpt: String = path(s"ckpt-$tag")
    Seq(feed, tmp).foreach(p => new File(p).mkdirs())
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val query: StreamingQuery = {
      val decoded = Ingest.deserialize(spark.readStream.schema(frameSchema).parquet(feed))
        .withColumn("event_time", timestamp_millis(col("clientTimestamp")))
      val unique = EventStream.dedupped(decoded, "event_time", "40 days")
        .drop("event_time")
      DatePartition.streamAppend(unique, landed, ckpt)
    }

    /** Move slot `k`'s file into the feed atomically; returns the wall
      * clock (ms) at which it became visible. */
    def send(k: Int): Long = {
      val src = slots(k).toPath
      val staged = new File(tmp, src.getFileName.toString).toPath
      Files.copy(src, staged, StandardCopyOption.REPLACE_EXISTING)
      Files.move(staged, new File(feed, src.getFileName.toString).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    def warm(): Unit = (0 until warmFiles).foreach { k =>
      send(k)
      query.processAllAvailable()
    }

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
    }

    /** File name -> the file source's batch id, from its metadata log. */
    def batchOfFile(): Map[String, Long] = {
      val pat = """"path":"([^"]+)".*?"batchId":(\d+)""".r
      Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
          .filter(f => f.getName.matches("""\d+(\.compact)?""")).flatMap { f =>
        scala.io.Source.fromFile(f).getLines().toList.flatMap(l =>
          pat.findFirstMatchIn(l).map(m =>
            m.group(1).split('/').last -> m.group(2).toLong))
      }.toMap
    }

    /**
     * Source batch id -> commit wall clock (ms) of the micro-batch that read
     * it: a progress whose source offsets run from log offset M to N read
     * the file source's batches M+1..N.
     */
    def commitTimes(): Map[Long, Long] = {
      val off = """"logOffset"\s*:\s*(\d+)""".r
      def logOffset(s: String) =
        Option(s).flatMap(off.findFirstMatchIn).map(_.group(1).toLong).getOrElse(-1L)
      progress.asScala.toSeq.filter(_.numInputRows > 0).flatMap { p =>
        val done = Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).longValue
        val src = p.sources.head
        (logOffset(src.startOffset) + 1 to logOffset(src.endOffset)).map(_ -> done)
      }.toMap
    }
  }

  def setup(): Unit = {
    rec.notes("events_per_file") = perFile
    rec.notes("period_ms") = periodMs
    rec.setup("generate_s") = medianOf(3) {
      Tiers.gateway(Gen.incoming(spark, o.seed, 0, nFiles.toLong * perFile, nFiles))
        .write.mode("overwrite").parquet(stage)
    }
    slots = Option(new File(stage).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toIndexedSeq
    require(slots.size == nFiles, s"expected $nFiles feed files, staged ${slots.size}")
    slotRows = spark.read.parquet(stage).groupBy(input_file_name().as("f")).count()
      .collect().map(x => x.getString(0).split('/').last -> x.getLong(1)).toMap
    rec.setup("warmup_s") = secondsOf {
      val run = new Run("a")
      run.warm()
      pending = Some(run)
    }._2
  }

  def measure(seconds: Double, counters: Option[SparkCounters]): Phase = {
    val run = pending.getOrElse { val x = new Run("b"); x.warm(); x }
    pending = None
    val n = math.min(measured, math.ceil(seconds * 1000 / periodMs).toInt.max(1))
    val t0 = System.currentTimeMillis() + 50
    val due = Array.tabulate(n)(k => t0 + k * periodMs)
    val sent = Array.fill(n)(0L)
    val generator = new Thread(() => {
      for (k <- 0 until n) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        sent(k) = run.send(warmFiles + k)
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    run.query.processAllAvailable()
    val batchOf = run.batchOfFile()
    // progress events reach the listener asynchronously
    val limit = System.currentTimeMillis() + 3000
    while (!batchOf.values.toSet.subsetOf(run.commitTimes().keySet) &&
        System.currentTimeMillis() < limit) Thread.sleep(20)
    run.stop()
    landings += run.landed
    lastRun = Some(run)
    val commit = run.commitTimes()
    val names = (0 until n).map(k => slots(warmFiles + k).getName)
    val committed = names.map(n => batchOf.get(n).flatMap(commit.get))
    val latencies = committed.zip(due).collect { case (Some(c), d) => (c - d).toDouble }
    val missing = committed.count(_.isEmpty)
    val lastCommit = committed.flatten.foldLeft(t0)(math.max)
    val units = names.map(n => slotRows.getOrElse(n, 0L)).sum
    lateMs = sent.zip(due).map { case (s, d) => (s - d).toDouble }.toSeq
    // the most files sent but not yet committed, seen at any send
    backlogMax = sent.indices.map { k =>
      sent.count(_ <= sent(k)) - committed.count(_.exists(_ <= sent(k)))
    }.max
    lastProgress = run.progress.asScala.toSeq.filter(_.numInputRows > 0)
    Phase(latencies, units, (lastCommit - t0) / 1e3,
      Map("file" -> (n - missing).toLong),
      if (missing > 0) Map("file" -> missing.toLong) else Map.empty)
  }

  private var lateMs: Seq[Double] = Nil
  private var backlogMax = 0
  private var lastProgress: Seq[StreamingQueryProgress] = Nil

  def attribute(t: Tracer, c: SparkCounters, traced: Phase): Unit = {
    sparkLayers(c, traced)
    def dur(k: String) = Stats.median(lastProgress.map(p =>
      p.durationMs.getOrDefault(k, 0L).toDouble))
    val state = lastProgress.flatMap(_.stateOperators.headOption)
    rec.layers ++= Seq(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_memory_bytes" ->
        state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "generator.late_ms" -> Stats.median(lateMs),
      "pipeline.files_written" -> Tiers.dataFiles(lastRun.get.landed)._1.toDouble)
    rec.notes("triggers") = lastProgress.size
  }

  def verify(): Unit = {
    val exp = Gen.expected(spark, o.seed, 0, nFiles.toLong * perFile)
    landings.foreach(l => Tiers.checkLanded(rec, "file", spark, l, exp))
  }
}
