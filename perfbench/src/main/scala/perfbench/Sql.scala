package perfbench

import graft.SparkEntry
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects every successful query execution (public listener API). */
final class QueryCollector extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[QueryExecution]
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }

  /** Analysis + optimization + planning time of one execution (ms). */
  def planningMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum
}

/** Materialize a frame through the noop sink: every row computed, none kept. */
object Noop {
  def apply(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/**
 * The analyst SQL mix, in a fixed order: registry queries that read only
 * `events.parquet` (over a generated table of that schema) interleaved with
 * ad-hoc SQL over the landed table `landed` — daily counts, a one-day
 * pruned aggregate, `props[...]` access and percentiles.
 */
final class AnalystMix(spark: SparkSession, tables: String) {

  val registry = Seq("q01_daily_counts", "q06_props_access", "q07_partition_prune",
    "q12_percentiles")

  val adhoc: Seq[(String, String)] = Seq(
    "sql_daily_counts" ->
      """SELECT year, month, day, name, count(*) AS n FROM landed
        |GROUP BY year, month, day, name ORDER BY year, month, day, name""".stripMargin,
    "sql_one_day" ->
      """SELECT name, count(*) AS n, avg(size(props)) AS avg_props,
        |       max(clientTimestamp) AS last_ts
        |FROM landed WHERE year = '2024' AND month = '01' AND day = '07'
        |GROUP BY name ORDER BY name""".stripMargin,
    "sql_props" ->
      """SELECT props['gameID'] AS game, count(*) AS n,
        |       sum(CAST(props['score'] AS BIGINT)) AS score
        |FROM landed GROUP BY props['gameID'] ORDER BY game""".stripMargin,
    "sql_percentiles" ->
      """SELECT name, percentile(CAST(props['score'] AS INT), array(0.5, 0.9, 0.99)) AS p
        |FROM landed GROUP BY name ORDER BY name""".stripMargin)

  val names: Seq[String] = registry.zip(adhoc.map(_._1)).flatMap { case (a, b) => Seq(a, b) }

  def frame(q: String): DataFrame = adhoc.toMap.get(q) match {
    case Some(sql) => spark.sql(sql)
    case None => SparkEntry.queries(q)(spark, tables)
  }

  /** Warm-up run of one query; registry results are kept at `out`. */
  def warm(q: String, out: String): Unit =
    if (registry.contains(q)) frame(q).coalesce(1).write.parquet(out)
    else Noop(frame(q))

  /** Per-layer metrics of the traced pass's query executions. */
  def layers(qes: Seq[QueryExecution], landed: String, inputBytes: Double,
      queries: Long): Seq[(String, Double)] = {
    val landedFiles = Tiers.dataFiles(landed)._1
    val landedScans = qes.flatMap(PlanWalk.scans)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/landed")))
    val read = landedScans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    Seq(
      "driver.planning_ms" -> Stats.median(qes.map(PlanWalk.planningMs)),
      "model.scan_bytes" -> inputBytes / math.max(1L, queries),
      "scan.files_read_ratio" ->
        (if (landedScans.isEmpty) 0.0 else read.toDouble / (landedScans.size * landedFiles)))
  }

  /** Registry results go to the DuckDB oracle check; ad-hoc results are
    * checked against the generator's expectation for the landed table. */
  def verify(rec: Record, exp: Gen.Expected, result: String => String): Unit = {
    registry.foreach { q =>
      rec.oracles += Map("name" -> q, "kind" -> q, "sql" -> SparkEntry.oracleSql(q),
        "result" -> result(q), "tables" -> Map("events" -> s"$tables/events.parquet"))
    }
    val daily = spark.sql(adhoc.head._2).collect()
    val dailyRows = daily.map(_.getLong(4)).sum
    rec.check("sql_daily_counts.total", "sql_daily_counts", dailyRows == exp.rows,
      s"daily counts sum to $dailyRows, expected ${exp.rows}")
    val dayCount = daily.map(x => (x.getString(0), x.getString(1), x.getString(2))).distinct.length
    rec.check("sql_daily_counts.days", "sql_daily_counts", dayCount == exp.days.size,
      s"$dayCount days, expected ${exp.days.size}")
    val day7 = daily.filter(x => x.getString(2) == "07")
      .map(x => x.getString(3) -> x.getLong(4)).toMap
    val oneDay = spark.sql(adhoc(1)._2).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    rec.check("sql_one_day.counts", "sql_one_day", oneDay == day7 && oneDay.nonEmpty,
      s"one-day counts $oneDay, daily counts for that day $day7")
    val props = spark.sql(adhoc(2)._2).collect()
    val score = props.map(_.getLong(2)).sum
    rec.check("sql_props.totals", "sql_props",
      props.map(_.getLong(1)).sum == exp.rows && score == exp.scoreSum &&
        props.length == Gen.Games,
      s"${props.length} games, score $score, expected ${exp.scoreSum}")
    val pct = spark.sql(adhoc(3)._2).collect()
    val pctOk = pct.length == Gen.Names.length && pct.forall { x =>
      val p = x.getSeq[Double](1)
      p.size == 3 && p.head >= 0 && p.last <= 999 && p == p.sorted
    }
    rec.check("sql_percentiles.range", "sql_percentiles", pctOk,
      pct.map(_.toString).mkString(" "))
  }
}

/** `curation`: the q211 curation chain over a generated corpus. */
final class Curation(spark: SparkSession, o: Opts, r: Record)
    extends Workload(spark, o, r) {

  import graft.llm.{DedupOps, Retrieval, TextAnalysis}
  import org.apache.spark.sql.functions.col

  val query = "q211_curation_v13"
  val nDocs = 500L
  val corpus: String = path("corpus")

  def run(): DataFrame = SparkEntry.queries(query)(spark, corpus)

  def setup(): Unit = {
    rec.notes("documents") = nDocs
    rec.setup("generate_s") = medianOf(3) {
      Gen.documents(spark, o.seed, nDocs).coalesce(1)
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    }
    // two warm-up runs (the driver-side JIT is still warming after one);
    // the first one's result is the one the oracle check reads
    rec.setup("warmup_s") = secondsOf {
      run().coalesce(1).write.parquet(path(s"results/$query"))
      Noop(run())
    }._2
  }

  def measure(seconds: Double, counters: Option[SparkCounters]): Phase =
    closedLoop(seconds, counters) { _ => Noop(run()); (query, nDocs) }

  def attribute(t: Tracer, c: SparkCounters, traced: Phase): Unit = {
    sparkLayers(c, traced)
    // q211's stages in its order, each materialized on its own
    val docs = graft.ops.Widen.scan(graft.model.Tables.documents(spark, corpus))
    val staged = t.span("staged_q211", 0) {
      val (gated, _) = t.span("llm.gate", 0) {
        TextAnalysis.gopherFilter(docs, minWords = 30L, maxWords = 100000L,
          requiredWords = Seq("the", "a", "and", "of", "to"), minRequiredHits = 2,
          tok = DedupOps.Tokenizer.Unicode).localCheckpoint(true)
      }
      val (rew, _) = t.span("llm.extent_rewrite", 0) {
        DedupOps.spanExtentDedupApply(gated, width = 8)
          .select(col("doc_id"), col("text_clean").as("text")).localCheckpoint(true)
      }
      val bench = docs.filter(col("doc_id") % 41 === 3).select(col("doc_id"), col("text"))
      val (scrubbed, _) = t.span("llm.winnow_scrub", 0) {
        DedupOps.winnowScrubVerified(rew.filter(col("doc_id") % 41 =!= 3), bench,
          n = 3, w = 4, minShared = 2L, tok = DedupOps.Tokenizer.UnicodeAligned)
          .select(col("doc_id"), col("text")).localCheckpoint(true)
      }
      val (sel, _) = t.span("llm.dsir_select", 0) {
        Retrieval.dsirSelect(scrubbed, docs.filter(col("doc_id") % 4 === 0),
          buckets = 1024, keepPermille = 500L, tok = DedupOps.Tokenizer.Unicode)
          .localCheckpoint(true)
      }
      t.span("llm.report", 0) {
        val fin = scrubbed.join(sel.select(col("doc_id")), "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        TextAnalysis.corpusReport(fin, "lang").orderBy("lang").collect().toSeq
      }._1
    }._1
    Seq("llm.gate" -> "llm.gate_s", "llm.extent_rewrite" -> "llm.extent_rewrite_s",
      "llm.winnow_scrub" -> "llm.winnow_scrub_s", "llm.dsir_select" -> "llm.dsir_select_s",
      "llm.report" -> "llm.report_s").foreach { case (s, m) => rec.layers(m) = t.medianSelf(s) }
    val whole = run().collect().toSeq
    rec.check("curation.staged_matches_q211", query, staged == whole,
      s"staged chain gave ${staged.size} rows, q211 ${whole.size}")
  }

  def verify(): Unit = {
    val out = path(s"results/$query")
    rec.oracles += Map("name" -> query, "kind" -> query, "sql" -> SparkEntry.oracleSql(query),
      "result" -> out, "tables" -> Map("documents" -> s"$corpus/documents.parquet"))
  }
}
