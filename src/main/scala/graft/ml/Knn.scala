package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact k-nearest-neighbors via grid bucketing with ring escalation
  * (SURVEY.md §2.9 M2/M7/M10 support).
  *
  * Ring-r pass: join each probe to candidates in its (2r+1)×(2r+1) cell
  * neighborhood (equi-join on cell ids — work scales with local density,
  * never n²). A probe's result is provably exact when its k-th candidate
  * distance is ≤ r·cell (no point outside the neighborhood can be closer).
  * Probes that fail at ring 1 retry at ring 2 ONLY (the failed subset);
  * stragglers after ring 2 take the probes×corpus fallback scan.
  *
  * Why the escalation exists (GEOSCALE_r06.json; BASELINE.md "Geo scale
  * evidence", round 6): fallback volume is density-sensitive — at
  * E[neighbors within one cell] ≈ k the 3×3
  * exactness test fails for ~15% of probes, and the one-shot fallback scan
  * then window-sorts |fallback|×n rows (measured: 747 s at 750k points,
  * 10.6k fallbacks — the suite's only 100×-scale killer). Ring 2 covers
  * 25 cells ≈ 6.9× the ring-1 area, so the expected candidate count at the
  * failure boundary rises well past k and the fallback set drops to ~the
  * genuinely isolated corners (measured: 10,616 → 0 on the same corpus).
  *
  * Dense-data posture (the 100× hardening): every pass runs over DISTINCT
  * locations, not ids —
  *  1. coincident points collapse to one weighted location (a geocoding
  *     default with 10⁶ rows at one coordinate is ONE grid row);
  *  2. only a location's k+1 smallest ids can appear in ANY top-k result
  *     (same distance to every probe, ties broken by id), so expansion back
  *     to ids is capped at k+1 per candidate location;
  *  3. candidate locations whose strict-closer cumulative weight already
  *     reaches k are pruned before expansion (their points cannot enter a
  *     top-k that k strictly-closer points occupy).
  * Per-probe expansion is therefore O(k²) worst-case regardless of how mass
  * piles onto single coordinates. The loud GridGuard cap applies to distinct
  * locations per cell, where exceeding it is genuine quadratic density.
  */
object Knn {

  /** Escalation telemetry for one [[neighbors]] run: probes left unproven
    * after ring 1 and after ring 2 (the latter take the fallback scan). */
  final case class Stats(ring1Failed: Long, ring2Failed: Long)

  /** Data-derived grid cell: aim for E[distinct locations per cell] ≈
    * `target`·k, so the ring-1 exactness proof succeeds for the typical
    * probe and the candidate join stays ~9·`target`·k rows per probe
    * REGARDLESS of corpus size or extent.
    *
    * Why this exists (GEOSCALE_r06): the proof "k-th candidate ≤ ring·cell"
    * is density-sensitive — at E[locations per cell] ≈ k the 3×3 test fails
    * for ~15% of probes and a hand-picked cell silently pushed 45% of
    * probes into the probes×corpus fallback at one tested density (41 s at
    * 15k points). The rule was scaladoc ("choose cell so E[neighbors within
    * one cell radius] >> k"); this computes it from the data in two cheap
    * aggregations over the collapsed location frame:
    *
    *  1. uniform estimate: cell0 = sqrt(target·k / (n_locs / bbox_area)) —
    *     right when density is roughly even;
    *  2. skew refinement: per-cell counts at cell0, location-weighted
    *     median c_med (the cell occupancy the TYPICAL point actually sees —
    *     the unweighted cell median would be dragged to 1 by acres of
    *     near-empty cells), rescaled by sqrt(target·k / c_med) since
    *     occupancy ∝ cell². The count histogram (distinct occupancy values,
    *     ≤ ~thousands) is the only thing collected to the driver.
    *
    * Coincident mass is collapsed before either step, so a geocoding
    * default with 10⁶ rows at one coordinate counts as ONE location. */
  def autoCellSize(points: DataFrame, k: Int, target: Double = 4.0): Double = {
    val locs = points.groupBy("x", "y").agg(count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try autoCellSizeFromLocs(locs, k, target)
    finally { locs.unpersist(); () }
  }

  /** [[autoCellSize]] over a PREBUILT (and persisted) collapsed-location
    * frame — [[neighborsAuto]] shares one collapse pass between the sizing
    * probe and the grid build instead of paying it twice. */
  private def autoCellSizeFromLocs(locs: DataFrame, k: Int, target: Double): Double = {
    {
      val bb = locs.agg(count(lit(1)).as("n"),
        min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1")).head()
      val n = bb.getLong(0)
      if (n <= 1) return 1.0
      val spanX = bb.getDouble(2) - bb.getDouble(1)
      val spanY = bb.getDouble(4) - bb.getDouble(3)
      // Degenerate extent (axis-collinear corpus, one span ~0): the 2-D
      // density formula collapses — area ≈ eps·span gives a near-zero
      // cell0 the 2x skew clamp can't recover from, and every probe then
      // fails its ring proof and escalates to the quadratic fallback the
      // auto-sizing exists to prevent. Size from the 1-D density of the
      // varying axis instead: cell = target·k·span/n puts ~target·k
      // locations in each occupied cell of the 1-D run.
      val spanMax = math.max(spanX, spanY)
      val cell0 =
        if (spanMax <= 0.0) return 1.0 // n>1 distinct locs ⇒ impossible; belt+braces
        else if (math.min(spanX, spanY) < spanMax * 1e-9)
          target * k * spanMax / n
        else math.sqrt(target * k * spanX * spanY / n)
      // Occupancy histogram at cell0: (cell count c) -> (locations in such
      // cells). Small by construction — distinct occupancy values.
      val hist = locs
        .withColumn("cx", floor(col("x") / cell0))
        .withColumn("cy", floor(col("y") / cell0))
        .groupBy("cx", "cy").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(sum("c").as("locs"))
        .select("c", "locs")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      var cum = 0L
      var cMed = 1L
      val half = (n + 1) / 2
      for ((c, w) <- hist if cum < half) { cum += w; cMed = c }
      // Rescale toward target·k occupancy; clamp to one octave each way so a
      // pathological histogram can't push the cell to a degenerate size.
      val scale = math.sqrt(target * k / math.max(cMed.toDouble, 1.0))
      cell0 * math.min(2.0, math.max(0.5, scale))
    }
  }

  /** Memoized auto-sized cells, keyed by (application, caller key): the
    * probe is a deterministic calibration over a fixed corpus, so repeated
    * runs against the same inputs (bench reps, m10/m10b's shared frame)
    * must not re-pay its two aggregation jobs — the same staged-shared-
    * intermediate reasoning as ops.Staged, for a scalar. App-scoped so no
    * value outlives the session that computed it. The round-12 m2 A/B
    * (tmp/scale/ab_m2_autosizing.json, HEAD/ref 1.138 vs the pre-auto-
    * sizing commit) measured the probe at ~1.1 s per call at sf0.1. */
  private val cellMemo = scala.collection.concurrent.TrieMap.empty[String, Double]

  /** [[neighbors]] with the grid cell derived from the data — the form
    * callers should prefer when the corpus density is not known a priori.
    * `calibrationKey`: memoize the probed cell size under this corpus key
    * (callers with a stable input frame, e.g. a per-dir query, pass one so
    * only the first call pays the probe). */
  def neighborsAuto(points: DataFrame, k: Int,
                    maxCellCount: Int = graft.ops.GridGuard.DefaultMaxCellCount,
                    calibrationKey: Option[String] = None): DataFrame = {
    // One collapse pass serves both the density probe and the grid build.
    val locsBase = points.groupBy("x", "y")
      .agg(min("id").as("lid"), count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def probe = autoCellSizeFromLocs(locsBase, k, 4.0)
    val cell = calibrationKey match {
      case Some(key) =>
        val appKey = points.sparkSession.sparkContext.applicationId + ":" + key + s":k=$k"
        cellMemo.getOrElseUpdate(appKey, probe)
      case None => probe
    }
    neighborsWithStats(points, k, cell, maxCellCount, Some(locsBase))._1
  }

  /** `points`: (id, x, y). Returns (id, nbr_id, d2, rn) with rn = 1..k by
    * ascending squared distance, ties broken by neighbor id. */
  def neighbors(points: DataFrame, k: Int, cellSize: Double,
                maxCellCount: Int = graft.ops.GridGuard.DefaultMaxCellCount): DataFrame =
    neighborsWithStats(points, k, cellSize, maxCellCount)._1

  /** [[neighbors]] plus escalation telemetry (ring-1/ring-2 failure counts)
    * so harnesses and specs can assert the grid was sized sanely instead of
    * inferring it from wall-clock. */
  def neighborsWithStats(points: DataFrame, k: Int, cellSize: Double,
                maxCellCount: Int = graft.ops.GridGuard.DefaultMaxCellCount,
                prebuiltLocs: Option[DataFrame] = None): (DataFrame, Stats) = {
    val locsBase = prebuiltLocs.getOrElse(points.groupBy("x", "y")
      .agg(min("id").as("lid"), count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val locs = locsBase
      .withColumn("cx", floor(col("x") / cellSize))
      .withColumn("cy", floor(col("y") / cellSize))
    // One cell dense in DISTINCT locations makes the candidate join below
    // quadratic — fail loudly first (coincident mass is already collapsed).
    graft.ops.GridGuard.requireBoundedCells(locs, Seq("cx", "cy"), maxCellCount, "grid kNN")

    // The only ids that can reach any top-k: per location, the k+1 smallest
    // (+1 absorbs self-exclusion for probes at the same location).
    val wId = Window.partitionBy("x", "y").orderBy("id")
    val candIdPool = points.select("id", "x", "y")
      .withColumn("lrn", row_number().over(wId)).filter(col("lrn") <= k + 1)
      .drop("lrn")
    val candIds = candIdPool
      .join(locs.select("x", "y", "lid"), Seq("x", "y"))
      .select(col("id").as("bid"), col("lid").as("lb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // id → its location representative (probe side of every pass).
    val ptl = points.select(col("id").as("aid"), col("x"), col("y"))
      .join(locs.select("x", "y", "lid"), Seq("x", "y"))
      .select(col("aid"), col("lid").as("la"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val w = Window.partitionBy("aid").orderBy(col("d2"), col("bid"))
    val cleanup = scala.collection.mutable.ArrayBuffer[DataFrame](locsBase, candIds, ptl)

    /** One grid pass at `ring` for `probeAids` (aid): returns (exact top-k
      * rows, aids still unproven). Candidate work = probe locations ×
      * (2·ring+1)² cells × local distinct-location density. */
    def pass(probeAids: DataFrame, ring: Int): (DataFrame, DataFrame) = {
      val offsets = (-ring to ring).map(i => lit(i.toLong))
      val probeLocs = ptl.join(probeAids, Seq("aid"), "left_semi")
        .select(col("la").as("lid")).distinct()
      val probesL = locs.join(probeLocs, Seq("lid"), "left_semi")
        .select(col("lid").as("la"), col("x").as("ax"), col("y").as("ay"),
          col("w").as("wa"), col("cx"), col("cy"))
        .withColumn("ncx", explode(array(offsets.map(col("cx") + _): _*)))
        .withColumn("ncy", explode(array(offsets.map(col("cy") + _): _*)))
      val targetsL = locs.select(col("lid").as("lb"), col("x").as("bx"),
        col("y").as("by"), col("w").as("wb"), col("cx").as("ncx"), col("cy").as("ncy"))
      val candL = probesL.join(targetsL, Seq("ncx", "ncy"))
        .select(col("la"), col("lb"), col("bx"), col("by"),
          (pow(col("ax") - col("bx"), 2) + pow(col("ay") - col("by"), 2)).as("d2"),
          when(col("la") === col("lb"), col("wa") - 1).otherwise(col("wb")).as("cw"))

      // Strict-closer pruning: a candidate location survives iff fewer than k
      // points sit strictly closer to the probe location. Tied-d2 locations
      // share one group, so boundary ties are all kept — the id-level ranking
      // below resolves them exactly.
      val byDist = candL.groupBy("la", "d2").agg(sum("cw").as("gw"))
        .withColumn("cumStrict",
          coalesce(sum("gw").over(Window.partitionBy("la").orderBy("d2")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("cumStrict") < k)
        .select("la", "d2")
      val keptL = candL.join(byDist, Seq("la", "d2"), "left_semi")

      // Expand back to ids: probe ids at la × pooled candidate ids at lb.
      val candA = ptl.join(probeAids, Seq("aid"), "left_semi")
        .join(keptL.select("la", "lb", "d2"), "la")
        .join(candIds, "lb")
        .filter(col("aid") =!= col("bid"))
        .select(col("aid"), col("bid"), col("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .persist(StorageLevel.MEMORY_AND_DISK)
      cleanup += candA

      // Exactness: k candidates found and the k-th lies within `ring` cells.
      // Persisted: both the failed-set anti-join (an eager count) and the
      // result semi-join consume it — recomputing re-aggregates candA.
      val bound = ring.toDouble * cellSize
      val exactIds = candA.groupBy("aid")
        .agg(count(lit(1)).as("n_cand"), max("d2").as("max_d2"))
        .filter(col("n_cand") >= k && col("max_d2") <= lit(bound * bound))
        .select("aid")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cleanup += exactIds
      val failed = probeAids.join(exactIds, Seq("aid"), "left_anti")
      (candA.join(exactIds, Seq("aid"), "left_semi"), failed)
    }

    val allAids = points.select(col("id").as("aid"))
    val (exact1, failed1) = pass(allAids, 1)
    val nFailed1 = failed1.persist(StorageLevel.MEMORY_AND_DISK).count()
    cleanup += failed1

    var nFailed2 = 0L
    val out =
      if (nFailed1 == 0) graft.core.Materialize.cut(exact1)
      else {
        val (exact2, failed2) = pass(failed1, 2)
        nFailed2 = failed2.persist(StorageLevel.MEMORY_AND_DISK).count()
        cleanup += failed2
        val upToRing2 = exact1.unionByName(exact2)
        val full =
          if (nFailed2 == 0) upToRing2
          else {
            // Final fallback: full scan for the (now tiny) unproven set. The
            // probe side must be spread first: the cross join's parallelism
            // is the left side's partition count, and AQE coalesces the small
            // anti-join output to ONE partition — measured as a single task
            // computing |fallback|×n distances while 31 cores idled.
            val fbProbes = graft.core.Tables.fanout(
              failed2.join(points.select(col("id").as("aid"), col("x").as("ax"),
                col("y").as("ay")), "aid"))
            val fbPart = fbProbes
              .join(points.select(col("id").as("bid"), col("x").as("bx"), col("y").as("by")))
              .filter(col("aid") =!= col("bid"))
              .select(col("aid"), col("bid"),
                (pow(col("ax") - col("bx"), 2) + pow(col("ay") - col("by"), 2)).as("d2"))
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") <= k)
            upToRing2.unionByName(fbPart)
          }
        // Materialize before releasing the caches (candA frames feed the
        // union; a lazy return over unpersisted caches re-runs the pair
        // joins, and still-persisted frames leak blocks into later queries).
        graft.core.Materialize.cut(full)
      }
    cleanup.foreach(_.unpersist())
    (out, Stats(nFailed1, nFailed2))
  }
}
