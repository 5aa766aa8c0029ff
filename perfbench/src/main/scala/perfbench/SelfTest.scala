package perfbench

import java.util.Properties
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own logic: seeded generators and tracing. */
object SelfTest {

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(c => to_json(struct(col(c)))): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def run(spark: SparkSession, rec: Record): Unit = {
    def same(name: String, a: => DataFrame, b: => DataFrame): Unit = {
      val (x, y) = (digest(a), digest(b))
      rec.check(name, "selftest", x == y, s"$x vs $y")
    }
    same("gen.incoming_same_seed_same_rows",
      Gen.incoming(spark, 7, 0, 3000, 1), Gen.incoming(spark, 7, 0, 3000, 5))
    same("gen.events_table_same_seed_same_rows",
      Gen.eventsTable(spark, 7, 3000), Gen.eventsTable(spark, 7, 3000).repartition(3))
    same("gen.documents_same_seed_same_rows",
      Gen.documents(spark, 7, 300), Gen.documents(spark, 7, 300).repartition(3))
    val (a, b) = (digest(Gen.incoming(spark, 7, 0, 3000)), digest(Gen.incoming(spark, 8, 0, 3000)))
    rec.check("gen.incoming_other_seed_other_rows", "selftest", a != b, s"$a == $b")

    val n = 20000L
    val meta = Gen.incomingWithMeta(spark, 7, 0, n)
    val r = meta.agg(
      sum(when(col("_row") =!= col("_orig"), 1).otherwise(0)),
      sum(when(col("topic") === "" && col("_row") === col("_orig"), 1).otherwise(0)),
      min(size(col("props"))), max(size(col("props")))).head()
    val (dups, invalid) = (r.getLong(0).toDouble / n, r.getLong(1).toDouble / n)
    rec.check("gen.duplicate_rate", "selftest", dups > 0.04 && dups < 0.06, s"$dups")
    rec.check("gen.invalid_rate", "selftest", invalid > 0.006 && invalid < 0.014, s"$invalid")
    rec.check("gen.props_per_event", "selftest",
      r.getInt(2) == 11 && r.getInt(3) == 37, s"${r.getInt(2)}..${r.getInt(3)}")
    val dupsMatch = meta.filter(col("_row") =!= col("_orig")).alias("d")
      .join(meta.alias("o"), col("d._orig") === col("o._row"))
      .filter(col("d.id") =!= col("o.id") || col("d.clientTimestamp") =!= col("o.clientTimestamp"))
      .count()
    rec.check("gen.duplicates_are_exact_copies", "selftest", dupsMatch == 0, s"$dupsMatch differ")

    val t = new Tracer
    val (_, p) = t.span("prefix", 0)(Thread.sleep(40))
    t.span("layer", 0, prefix = p)(Thread.sleep(100))
    val self = t.medianSelf("layer")
    rec.check("trace.self_time_subtracts_prefix", "selftest",
      self > 0.04 && self < 0.1, s"self $self s")

    val c = new SparkCounters
    Seq((1, 100L, 200L), (2, 150L, 300L), (3, 400L, 500L)).foreach { case (id, s, e) =>
      c.onJobStart(SparkListenerJobStart(id, s, Nil, new Properties))
      c.onJobEnd(SparkListenerJobEnd(id, e, JobSucceeded))
    }
    val gaps = c.driverGaps(50, 600)
    rec.check("trace.driver_gaps", "selftest", gaps == ((3, 0.25, 0.05)), s"$gaps")
  }
}
