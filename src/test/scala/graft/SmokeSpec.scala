package graft

/** Regression tripwire: every declared query must analyze AND execute at
  * sf0.001. Round 4 shipped a testdata dtype drift (`events.ts` became
  * timestamp[us]) that silently erred 46/195 queries — the per-operator
  * specs surfaced it only as 17 cryptic plan-test failures, and the driver
  * harness simply dropped the erroring rows from CORRECTNESS_r04.json.
  * This one test turns any such break into a single failure naming every
  * broken query.
  *
  * Execution (not just analysis) is deliberate: runtime-only breaks (a
  * missing fixture file, a codegen crash, an OOB partition) matter as much
  * as analysis errors, and the full suite at sf0.001 costs only a few
  * minutes on the shared 2-core test session.
  */
class SmokeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("all declared queries run at sf0.001") {
    val failures = SparkEntry.all.toSeq.sortBy(_._1).flatMap { case (name, d) =>
      val r =
        try {
          val n = d.fn(spark, sfDir).count()
          if (n >= 0L) None else Some(name -> s"negative count $n")
        } catch {
          case e: Throwable => Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      graft.core.GraftSession.releaseTransientBlocks(spark)
      r
    }
    assert(
      failures.isEmpty,
      s"\n${failures.size}/${SparkEntry.all.size} queries failed at sf0.001:\n" +
        failures.map { case (n, m) => s"  $n — $m" }.mkString("\n"))
  }

  test("session carries the measured shuffle configs and leaves codec/initial width to Spark") {
    val conf = spark.sparkContext.getConf
    // serialized shuffle writer everywhere (BASELINE.md round 15)
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    // bounded-buffer TypedImperative aggregates stay hash-based (round 14)
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4096")
    // lz4 and AQE's unset initial width stay Spark's defaults (round 12)
    assert(!conf.contains("spark.io.compression.codec"))
    assert(!conf.contains("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
  }
}
