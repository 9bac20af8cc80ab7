package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus generator behind STREAMSCALE_r06.json (the replay main that
  * measured it lives in git history): time-ordered slices of a fixed
  * event-time span, so the watermark advances between micro-batches when
  * each slice is replayed as one file. Events are hash-placed uniformly
  * inside their slice, event types split purchase/click/view 10/70/20,
  * and ~2% duplicate event_ids exercise the dedup drop path. */
object StreamScaleSpec {
  val HoursPerFile = 24
  val Users = 500L
  val EpochStartMicros = 1700000000L * 1000000L // fixed, deterministic

  final case class Regime(name: String, spanHours: Long, ratePerHour: Long) {
    def files: Int = (spanHours / HoursPerFile).toInt
    def totalEvents: Long = spanHours * ratePerHour
  }

  /** One time-slice of the corpus: events `[from, until)` of the id range,
    * hash-placed uniformly inside the slice's event-time interval. */
  def slice(s: SparkSession, r: Regime, i: Int): DataFrame = {
    val perFile = r.totalEvents / r.files
    val sliceMicros = HoursPerFile * 3600L * 1000000L
    val t0 = EpochStartMicros + i.toLong * sliceMicros
    s.range(i * perFile, (i + 1) * perFile).toDF("id")
      // ~2% duplicate ids (same slice, different ts) for the dedup op.
      .withColumn("event_id",
        when(pmod(col("id"), lit(50L)) === 0, col("id") - 1).otherwise(col("id")))
      .withColumn("ts",
        timestamp_micros(lit(t0) + pmod(xxhash64(col("id"), lit(1)), lit(sliceMicros))))
      .withColumn("user_id", pmod(xxhash64(col("id"), lit(2)), lit(Users)))
      .withColumn("event_type",
        when(pmod(xxhash64(col("id"), lit(3)), lit(10L)) === 0, lit("purchase"))
          .when(pmod(xxhash64(col("id"), lit(3)), lit(10L)) < 8, lit("click"))
          .otherwise(lit("view")))
      .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      .select("event_id", "ts", "user_id", "event_type", "ts_ns")
  }
}

/** Pins the streaming corpus generator: the state-bound measurements in
  * STREAMSCALE_r06.json are only evidence if the generator is
  * deterministic, its slices tile disjoint event-time intervals (the
  * watermark-advance mechanism), and the duplicate/type mixes are what the
  * generator doc claims. */
class StreamScaleSpec extends SparkSpec {
  import StreamScaleSpec._

  private val r = Regime("spec", spanHours = 48L, ratePerHour = 500L)

  test("slice is deterministic and schema-complete") {
    val a = slice(spark, r, 0).collect().map(_.toSeq).sortBy(_.head.toString)
    val b = slice(spark, r, 0).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.length == (r.totalEvents / r.files).toInt)
    assert(a.toSeq == b.toSeq)
    assert(slice(spark, r, 0).columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "ts_ns"))
  }

  test("slices tile disjoint 24h event-time intervals in file order") {
    val bounds = (0 until r.files).map { i =>
      val row = slice(spark, r, i)
        .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
        .head()
      (row.getLong(0), row.getLong(1))
    }
    val sliceMicros = HoursPerFile * 3600L * 1000000L
    bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val t0 = EpochStartMicros + i * sliceMicros
      assert(lo >= t0 && hi < t0 + sliceMicros,
        s"slice $i [$lo,$hi] escapes its interval [$t0, ${t0 + sliceMicros})")
    }
    // strictly increasing: batch k's max event time < batch k+1's, so the
    // watermark advances at every micro-batch boundary during replay
    bounds.sliding(2).foreach { case Seq((_, hi), (lo2, _)) => assert(hi < lo2) }
  }

  test("duplicate ids are exactly the documented 2% and stay in-slice") {
    val df = slice(spark, r, 1)
    val dups = df.groupBy("event_id").count().filter(col("count") > 1)
    // id % 50 == 0 remaps to id-1: one colliding pair per 50 ids, except
    // the slice's first multiple of 50, whose id-1 partner sits in the
    // previous slice (its remapped event_id appears once here)
    val perFile = r.totalEvents / r.files
    val start = perFile // slice 1
    val expected = (start until start + perFile).count(k =>
      k % 50 == 0 && k - 1 >= start)
    assert(dups.count() == expected)
    assert(dups.agg(max("count")).head().getLong(0) == 2L)
  }

  test("event-type mix is the documented 10/70/20 split and users stay bounded") {
    val df = slice(spark, r, 0)
    val n = df.count().toDouble
    val byType = df.groupBy("event_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType.keySet == Set("purchase", "click", "view"))
    assert(math.abs(byType("purchase") / n - 0.1) < 0.02)
    assert(math.abs(byType("click") / n - 0.7) < 0.02)
    val users = df.agg(countDistinct("user_id"), max("user_id"), min("user_id")).head()
    assert(users.getLong(0) <= Users)
    assert(users.getLong(1) < Users && users.getLong(2) >= 0L)
  }
}
