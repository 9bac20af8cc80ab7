package graft

import org.apache.spark.sql.functions._

/** Grid kNN pinned against in-test brute force on fixtures that force each
  * escalation tier: ring-1-exact, ring-2-exact (k-th neighbor outside the
  * 3×3 but inside the 5×5), and the full-scan straggler (k-th neighbor
  * beyond ring 2). Union of tiers must be the exact kNN. */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  // Generators of the grid-geo corpora recorded in GEOSCALE_r06.json (the
  // measuring main lives in git history). BaseN is the 1× point count.
  private val BaseN = 15000L

  /** Fixed-density spread corpus: n points hashed uniformly over a region
    * whose WIDTH scales with n (height fixed 0.5°), so per-cell occupancy is
    * scale-invariant. */
  private def spread(n: Long) = {
    val widthMicro = (600000L * n) / BaseN // 0.6° at 1×
    spark.range(n).toDF("id")
      .withColumn("x", lit(-74.3) +
        (pmod(xxhash64(col("id"), lit(1)), lit(widthMicro)) / 1e6))
      .withColumn("y", lit(40.5) +
        (pmod(xxhash64(col("id"), lit(2)), lit(500000L)) / 1e6))
  }

  /** Coincident-mass corpus: 90% of points sit on 20 EXACT coordinates (the
    * stuck-sensor / geocoding-default pathology), 10% spread at base extent. */
  private def coincident(n: Long) = {
    val heavy = pmod(xxhash64(col("id"), lit(3)), lit(10L)) < 9
    val slot = pmod(xxhash64(col("id"), lit(4)), lit(20L))
    spread(n).select(col("id"),
      when(heavy, lit(-74.3) + slot * 0.03).otherwise(col("x")).as("x"),
      when(heavy, lit(40.5) + slot * 0.02).otherwise(col("y")).as("y"))
  }

  private def brute(pts: Seq[(Long, Double, Double)], k: Int): Set[(Long, Long, Int)] =
    pts.flatMap { case (a, ax, ay) =>
      pts.filter(_._1 != a)
        .map { case (b, bx, by) =>
          (b, (ax - bx) * (ax - bx) + (ay - by) * (ay - by))
        }
        .sortBy { case (b, d2) => (d2, b) }
        .take(k).zipWithIndex
        .map { case ((b, _), i) => (a, b, i + 1) }
    }.toSet

  private def grid(pts: Seq[(Long, Double, Double)], k: Int, cell: Double): Set[(Long, Long, Int)] =
    graft.ml.Knn.neighbors(pts.toDF("id", "x", "y"), k, cell)
      .select(col("aid"), col("bid"), col("rn"))
      .as[(Long, Long, Int)].collect().toSet

  test("mixed-density corpus exercises ring 1, ring 2, and the full scan, exactly") {
    // Dense blob (ring-1 exact) + a mid ring spaced ~1.5 cells apart (ring-2
    // territory) + far isolated outliers whose neighbors sit 10+ cells away
    // (only the full scan can prove them). cell = 0.1.
    val blob = (0L until 30L).map(i => (i, 1.0 + (i % 6) * 0.01, 1.0 + (i / 6) * 0.01))
    val ringPts = (30L until 42L).map { i =>
      val ang = (i - 30L) * math.Pi / 6
      (i, 3.0 + 0.15 * math.cos(ang), 3.0 + 0.15 * math.sin(ang))
    }
    val far = Seq((42L, 10.0, 10.0), (43L, 12.0, 10.0), (44L, 10.0, 12.0))
    val pts = blob ++ ringPts ++ far
    assert(grid(pts, k = 4, cell = 0.1) === brute(pts, k = 4))
  }

  test("boundary-density corpus (E[nbrs per cell] ~ k) stays exact under escalation") {
    // The GEOSCALE_r06 failure shape: density tuned so the k-th neighbor
    // often lands just past one cell — ring 2 must absorb what ring 1 fails.
    val pts = (0L until 120L).map { i =>
      ((i, (i * 7919 % 113) / 40.0, (i * 104729 % 127) / 40.0))
    }
    assert(grid(pts, k = 4, cell = 0.25) === brute(pts, k = 4))
  }

  test("corpus smaller than k returns all available neighbors via the fallback") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 5.0, 5.0), (3L, 9.0, 0.0))
    assert(grid(pts, k = 5, cell = 0.5) === brute(pts, k = 5))
  }

  test("auto cell on the coincident corpus: exact, zero escalations past ring 2") {
    // GEOSCALE's coincident pathology at spec scale: 90% of points on 20
    // exact coordinates, 10% spread. A mis-sized cell at this density pushed
    // 45% of probes into the probes×corpus fallback (the measured
    // 41-s-at-15k-points trap); the data-derived cell must keep every probe
    // provable by ring 2.
    val df = coincident(2000L)
    val k = 5
    val cell = graft.ml.Knn.autoCellSize(df, k)
    assert(cell > 0.0 && cell.isFinite)
    val (nbrs, stats) = graft.ml.Knn.neighborsWithStats(df, k, cell)
    val got = nbrs.select(col("aid"), col("bid"), col("rn"))
      .as[(Long, Long, Int)].collect().toSet
    val pts = df.select(col("id"), col("x"), col("y"))
      .as[(Long, Double, Double)].collect().toSeq
    assert(got === brute(pts, k))
    assert(stats.ring2Failed === 0L,
      s"auto cell $cell left ${stats.ring2Failed} probes for the fallback scan")
  }

  test("auto cell on an axis-collinear corpus: 1-D density sizing, exact, no fallback") {
    // Degenerate-extent regression (ADVICE r7): with spanX ~ 0 the 2-D
    // formula multiplied by the 1e-12 area floor, giving a near-zero cell
    // the 2x skew clamp couldn't recover — every probe escalated to the
    // quadratic probes×corpus scan. The 1-D path sizes from the varying
    // axis: cell = target·k·span/n.
    val n = 500L
    val pts = (0L until n).map(i => (i, 3.0, (i * 7919 % 1000) / 10.0))
    val df = pts.toDF("id", "x", "y")
    val k = 4
    val cell = graft.ml.Knn.autoCellSize(df, k)
    // span 100, n=500, target*k=16 -> cell0 = 3.2; skew rescale stays
    // within one octave, so the result must sit in [1.6, 6.4].
    assert(cell > 1.0 && cell < 10.0, s"collinear auto cell $cell degenerate")
    val (nbrs, stats) = graft.ml.Knn.neighborsWithStats(df, k, cell)
    val got = nbrs.select(col("aid"), col("bid"), col("rn"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute(pts, k))
    assert(stats.ring2Failed === 0L,
      s"collinear auto cell $cell left ${stats.ring2Failed} probes for the fallback scan")
  }

  test("auto cell targets ~target*k locations per cell on a uniform corpus") {
    val pts = (0L until 400L).map(i => (i, (i * 7919 % 1000) / 100.0, (i * 104729 % 1000) / 100.0))
    val cell = graft.ml.Knn.autoCellSize(pts.toDF("id", "x", "y"), 4)
    // 400 locations over ~10x10: density 4/unit^2, target 4*4=16 -> cell ~2.
    assert(cell > 0.5 && cell < 8.0, s"cell $cell outside sane band")
  }
}
