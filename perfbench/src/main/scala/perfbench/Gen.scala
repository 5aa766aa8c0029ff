package perfbench

import graft.ScaleLab.{mix, rnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType}

/**
 * Seeded input generators. Every value is a pure function of
 * (seed, row index) through splitmix64, so the same seed always yields the
 * same rows, whatever the partitioning.
 *
 * Incoming events follow the reference load test's shape: 11–37 props per
 * event, UUID keys and values, plus two fixed keys (`gameID`, `score`) the
 * analyst SQL reads. About 5% of rows are at-least-once duplicates (an
 * exact copy of an earlier row within the last 200), about 1% of originals
 * have an empty topic (an invalid envelope), and client timestamps spread
 * over the 30 days of January 2024.
 */
object Gen {

  val Day0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val Days: Int = 30
  val DupPct: Int = 5
  val InvalidPermille: Int = 10
  val Games: Int = 20
  val Names: Array[String] =
    Array("session_start", "level_up", "purchase", "ad_view", "session_end")

  /** The fixed server timestamp the gateway tier stamps (2024-02-01Z). */
  val ServerTs: Long = 1706745600000L

  /** Word list of the sf0.1 documents table (all 31 distinct words). */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  def isDup(seed: Long, i: Long): Boolean =
    i > 0 && rnd(seed, i * 16 + 1, 100) < DupPct

  /** The original row a row copies: itself unless it is a duplicate. */
  def origin(seed: Long, i: Long): Long = {
    var o = i
    while (isDup(seed, o)) o = o - 1 - rnd(seed, o * 16 + 2, math.min(o, 200L).toInt)
    o
  }

  def isInvalid(seed: Long, o: Long): Boolean =
    rnd(seed, o * 16 + 3, 1000) < InvalidPermille

  private def uuid(seed: Long, o: Long, k: Long): String = {
    val hi = mix(seed * 0x2545f4914f6cdd1dL + o * 1024 + k)
    new java.util.UUID(hi, mix(hi ^ 0x5bd1e995L)).toString
  }

  /** The incoming envelope of original row `o`. */
  def event(seed: Long, o: Long): (String, String, String, Map[String, String], Long) = {
    val nProps = 11 + rnd(seed, o * 16 + 7, 27)
    val b = Map.newBuilder[String, String]
    b += "gameID" -> s"game-${rnd(seed, o * 16 + 9, Games)}"
    b += "score" -> rnd(seed, o * 16 + 10, 1000).toString
    var j = 0
    while (j < nProps - 2) {
      b += uuid(seed, o, 2L * j + 1) -> uuid(seed, o, 2L * j + 2)
      j += 1
    }
    val topic = if (isInvalid(seed, o)) "" else s"games-${o % 4}"
    val ts = Day0Ms + rnd(seed, o * 16 + 5, Days) * 86400000L +
      rnd(seed, o * 16 + 6, 86400000)
    (uuid(seed, o, 0), Names(rnd(seed, o * 16 + 4, Names.length)), topic,
      b.result(), ts)
  }

  /**
   * Rows [from, until) of the incoming stream, with two bookkeeping
   * columns the benchmark's checks use and the program never sees:
   * `_row` (the row index) and `_orig` (the row it copies).
   */
  def incomingWithMeta(spark: SparkSession, seed: Long, from: Long,
      until: Long, parts: Int = 0): DataFrame = {
    import spark.implicits._
    val ids = if (parts > 0) spark.range(from, until, 1, parts)
      else spark.range(from, until)
    ids.as[Long].mapPartitions(_.map { i =>
      val o = origin(seed, i)
      val (id, name, topic, props, ts) = event(seed, o)
      (id, name, topic, props, ts, i, o)
    }).toDF("id", "name", "topic", "props", "clientTimestamp", "_row", "_orig")
  }

  /** What the program receives: the envelope columns only. With
    * `parts` > 0, partition k holds the k-th equal slice of the rows. */
  def incoming(spark: SparkSession, seed: Long, from: Long, until: Long,
      parts: Int = 0): DataFrame =
    incomingWithMeta(spark, seed, from, until, parts).drop("_row", "_orig")

  /**
   * An order-independent fingerprint of a set of landed events: row count,
   * distinct ids and an exact sum of per-row hashes over id, name, client
   * timestamp, props size and one props value.
   */
  def fingerprint(df: DataFrame): (Long, Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), countDistinct(col("id")),
      sum(rowHash.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getLong(1),
      Option(r.getDecimal(2)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def rowHash: Column = xxhash64(col("id"), col("name"),
    col("clientTimestamp"), size(col("props")), element_at(col("props"), "score"))

  /** What a correct landing of rows [from, until) holds, from the
    * generator's own bookkeeping: each valid original once. */
  final case class Expected(rows: Long, distinct: Long, hashSum: BigDecimal,
      invalidRows: Long, days: Set[String], scoreSum: Long)

  def expected(spark: SparkSession, seed: Long, from: Long, until: Long): Expected = {
    val all = incomingWithMeta(spark, seed, from, until).cache()
    try {
      val valid = all.filter(col("topic") =!= "" && col("_row") === col("_orig"))
      val (n, d, h) = fingerprint(valid)
      val invalid = all.filter(col("topic") === "").count()
      val days = valid.select(date_format(
        timestamp_millis(col("clientTimestamp")), "'year='yyyy/'month='MM/'day='dd"))
        .distinct().collect().map(_.getString(0)).toSet
      val score = valid.agg(sum(element_at(col("props"), "score").cast("long")))
        .head().getLong(0)
      Expected(n, d, h, invalid, days, score)
    } finally all.unpersist()
  }

  /** Rows of a table with the schema of the registry's `events.parquet`
    * (event_id, ts, user_id, event_type, value, props as JSON text). */
  def eventsTable(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val types = Array("signup", "click", "error", "view", "purchase")
    spark.range(n).as[Long].mapPartitions(_.map { i =>
      val ms = Day0Ms + rnd(seed, i * 16 + 1, Days) * 86400000L +
        rnd(seed, i * 16 + 2, 86400000)
      (i, ms * 1000 + rnd(seed, i * 16 + 3, 1000), rnd(seed, i * 16 + 4, 1500).toLong,
        types(rnd(seed, i * 16 + 5, types.length)),
        rnd(seed, i * 16 + 6, 20000) / 100.0,
        s"""{"k": ${rnd(seed, i * 16 + 7, 100)}}""")
    }).toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** A documents table in the sf0.1 shape, from [[graft.ScaleLab]]. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame =
    graft.ScaleLab.genDocuments(spark, Vocab, n, seed)
}
