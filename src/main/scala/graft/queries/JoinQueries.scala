package graft.queries

import graft.{QueryCatalog, QueryDef}
import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins (SURVEY.md §2.3): equi/multi-key/semi/anti plus the reference's
  * spatial join family (point-in-polygon, raster lookup, nearest-neighbor,
  * grid-cell bucketing).
  *
  * Scale posture: dimension sides (zones, rasters, probe lists, per-bucket
  * stats) are broadcast — no shuffle of the fact table beyond its own
  * aggregation; the O(cells×rows) loops the reference runs in Python
  * (实习三/…struct_analysis.ipynb:158-175) become `floor(coord/size)` bucket
  * equi-joins, which hash-partition cleanly at any scale.
  */
object JoinQueries extends QueryCatalog {

  private val hourNs = 3600000000000L

  def defs: Map[String, QueryDef] = Map(

    // J1 — multi-key equi join on truncated time (reference trips⟕weather on
    // (month,day,hour), 实习二/…ipynb:404-415): events joined back to
    // per-(dow,hour) mean value — the small aggregate side broadcasts.
    "j1_multikey_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("hod", expr(s"(ts_ns div $hourNs) % 24"))
          .withColumn("dow", expr("((ts_ns div 86400000000000) + 4) % 7"))
        val dim = ev.groupBy("dow", "hod").agg(avg("value").as("dim_avg"))
        ev.join(broadcast(dim), Seq("dow", "hod"), "left")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum(col("value") - col("dim_avg")), 4).as("sum_dev"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (SELECT *, (epoch_ns(ts) // $hourNs) % 24 AS hod,
              |             ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow FROM events),
              |dim AS (SELECT dow, hod, avg(value) AS dim_avg FROM ev GROUP BY 1, 2)
              |SELECT event_type, count(*) AS n,
              |  round(sum(value - dim_avg), 4) AS sum_dev
              |FROM ev LEFT JOIN dim USING (dow, hod)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J2 — equi left join with rename-to-avoid-clash (reference stars→
    // avg_stars, 实习四/…ipynb:354-364).
    "j2_join_rename" -> QueryDef(
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .withColumnRenamed("c_acctbal", "cust_acctbal")
        Tables.orders(s, dir)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("revenue"),
            round(avg("cust_acctbal"), 4).as("avg_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS revenue,
             |  round(avg(c_acctbal), 4) AS avg_bal
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      headline = true),

    // J3 — left-semi join membership (reference business_id ∈ set pushed
    // into the scan, 实习四/…ipynb:273-300).
    "j3_semi_join" -> QueryDef(
      (s, dir) => {
        val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        Tables.lineitem(s, dir)
          .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem SEMI JOIN (SELECT o_orderkey FROM orders
             |  WHERE o_orderpriority = '1-URGENT') o ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J4 — left-anti join set difference (reference businesses_without_reviews,
    // analyze_data_bias.py:231-236): customers with no 'F'-status order.
    "j4_anti_join" -> QueryDef(
      (s, dir) => {
        val fOrders = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        Tables.customer(s, dir)
          .join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n
             |FROM customer ANTI JOIN (SELECT o_custkey FROM orders
             |  WHERE o_orderstatus = 'F') o ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J5 — spatial point-in-polygon join with rectangular zones (reference
    // gpd.sjoin within, 实习二/…ipynb:638-653): tiny zone table broadcast,
    // containment as a range predicate — Catalyst plans BroadcastNestedLoop.
    "j5_point_in_zone" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val zones = Seq(
          ("west", -74.3, -74.1, 40.5, 41.0),
          ("core", -74.1, -73.95, 40.6, 40.85),
          ("east", -73.95, -73.7, 40.5, 41.0)).toDF(
          "zone_id", "lon_min", "lon_max", "lat_min", "lat_max")
        Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .join(broadcast(zones),
            col("lon") >= col("lon_min") && col("lon") < col("lon_max") &&
              col("lat") >= col("lat_min") && col("lat") < col("lat_max"), "inner")
          .groupBy("zone_id").agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 4).as("avg_bal"))
          .orderBy("zone_id")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""WITH pts AS (SELECT c_acctbal, $lonSql AS lon, $latSql AS lat FROM customer),
           |zones(zone_id, lon_min, lon_max, lat_min, lat_max) AS (VALUES
           |  ('west', -74.3, -74.1, 40.5, 41.0),
           |  ('core', -74.1, -73.95, 40.6, 40.85),
           |  ('east', -73.95, -73.7, 40.5, 41.0))
           |SELECT zone_id, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
           |FROM pts JOIN zones ON lon >= lon_min AND lon < lon_max
           |  AND lat >= lat_min AND lat < lat_max
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // J6 — raster point lookup (reference affine rowcol → band value,
    // 实习二/…ipynb:780-830): lon/lat → (row,col) via the affine transform,
    // broadcast equi-join against the raster table, nodata → coalesce.
    "j6_raster_lookup" -> QueryDef(
      (s, dir) => {
        val raster = s.range(0, 50).select(col("id").as("r"))
          .crossJoin(s.range(0, 60).select(col("id").as("c")))
          .withColumn("cell_value", (col("r") * 31 + col("c") * 17) % 100)
        val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .withColumn("r", floor((lit(41.0) - col("lat")) / lit(0.01)))
          .withColumn("c", floor((col("lon") + lit(74.3)) / lit(0.01)))
        pts.join(broadcast(raster), Seq("r", "c"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(avg(coalesce(col("cell_value"), lit(50.0))), 4).as("avg_cell"))
          .orderBy("c_mktsegment")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""WITH raster AS (SELECT r.range AS r, c.range AS c,
           |    (r.range * 31 + c.range * 17) % 100 AS cell_value
           |  FROM range(0, 50) r, range(0, 60) c),
           |pts AS (SELECT c_mktsegment,
           |    floor((41.0 - ($latSql)) / 0.01) AS r,
           |    floor((($lonSql) + 74.3) / 0.01) AS c
           |  FROM customer)
           |SELECT c_mktsegment, count(*) AS n,
           |  round(avg(coalesce(cell_value, 50.0)), 4) AS avg_cell
           |FROM pts LEFT JOIN raster USING (r, c)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // J6b — the J6 lookup fed by REAL GeoTIFF ingestion (reference rasterio
    // open/mask, 实习二/实习二代码/clicp_image.py:8-40): the committed LZW
    // fixture (tools/make_tiff_fixture.py — 50×60 uint16, value
    // (3r+5c+7)%97, origin (−74.3, 41.0), 0.01° cells) is parsed by the
    // pure-JVM strip reader, and the affine transform COMES FROM THE FILE's
    // GeoTIFF tags, not from constants in the query. The oracle regenerates
    // the raster from the generator formula.
    "j6b_geotiff_lookup" -> QueryDef(
      (s, dir) => {
        val (raster, aff) = graft.sources.GeoTiff.read(
          s, graft.sources.Fixtures.path("fixtures/dem50x60.tif"))
        val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .withColumn("row",
            floor((lit(aff.originY) - col("lat")) / lit(aff.scaleY)).cast("int"))
          .withColumn("col",
            floor((col("lon") - lit(aff.originX)) / lit(aff.scaleX)).cast("int"))
        pts.join(broadcast(raster), Seq("row", "col"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(avg(coalesce(col("value"), lit(50.0))), 4).as("avg_cell"))
          .orderBy("c_mktsegment")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""WITH raster AS (SELECT r.range AS row, c.range AS col,
           |    CAST((r.range * 3 + c.range * 5 + 7) % 97 AS DOUBLE) AS value
           |  FROM range(0, 50) r, range(0, 60) c),
           |pts AS (SELECT c_mktsegment,
           |    floor((41.0 - ($latSql)) / 0.01) AS row,
           |    floor((($lonSql) + 74.3) / 0.01) AS col
           |  FROM customer)
           |SELECT c_mktsegment, count(*) AS n,
           |  round(avg(coalesce(value, 50.0)), 4) AS avg_cell
           |FROM pts LEFT JOIN raster USING (row, col)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // J7 — nearest-neighbor join / node snap (reference ox.nearest_nodes,
    // 实习三/…network_analysis.ipynb:314-316): few probes × all points,
    // argmin by (distance, key) for deterministic ties.
    "j7_nearest_neighbor" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val probes = Seq(("p1", -74.0, 40.7), ("p2", -74.2, 40.9), ("p3", -73.8, 40.6))
          .toDF("probe_id", "plon", "plat")
        val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
        pts.crossJoin(broadcast(probes))
          .withColumn("d2",
            (col("lon") - col("plon")) * (col("lon") - col("plon")) +
              (col("lat") - col("plat")) * (col("lat") - col("plat")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("probe_id").orderBy(col("d2"), col("c_custkey"))))
          .filter(col("rn") === 1)
          .select(col("probe_id"), col("c_custkey").as("nearest_key"), round(col("d2"), 10).as("dist2"))
          .orderBy("probe_id")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""WITH pts AS (SELECT c_custkey, $lonSql AS lon, $latSql AS lat FROM customer),
           |probes(probe_id, plon, plat) AS (VALUES
           |  ('p1', -74.0, 40.7), ('p2', -74.2, 40.9), ('p3', -73.8, 40.6))
           |SELECT probe_id, c_custkey AS nearest_key,
           |  round((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat), 10) AS dist2
           |FROM pts CROSS JOIN probes
           |QUALIFY row_number() OVER (PARTITION BY probe_id
           |  ORDER BY (lon-plon)*(lon-plon) + (lat-plat)*(lat-plat), c_custkey) = 1
           |ORDER BY probe_id""".stripMargin
      }),

    // J11 — Z-order locality key: Morton-interleave the grid-cell coords of
    // every point and profile bbox selectivity per z-range bucket — the
    // write-layout key that makes bbox scans prune files at 100 TB. The
    // bit arithmetic is identical in both engines.
    "j11_zorder_locality" -> QueryDef(
      (s, dir) => {
        val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .withColumn("cx", floor((col("lon") + lit(74.3)) / 0.01).cast("long"))
          .withColumn("cy", floor((col("lat") - lit(40.5)) / 0.01).cast("long"))
          .withColumn("z", graft.spatial.ZOrder.zIndex(col("cx"), col("cy"), 8))
        pts
          .withColumn("in_bbox",
            col("lon").between(-74.05, -73.95) && col("lat").between(40.7, 40.8))
          // Integer division on both sides: DuckDB's double→int CAST rounds
          // half-even while Spark's truncates — // vs floor keeps them equal.
          .groupBy(floor(col("z") / lit(256)).cast("long").as("z_bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("in_bbox").cast("long")).as("n_in_bbox"))
          .filter(col("n_in_bbox") > 0)
          .orderBy("z_bucket")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        val z = graft.spatial.ZOrder.zIndexSql("cx", "cy", 8)
        s"""WITH pts AS (SELECT $lonSql AS lon, $latSql AS lat FROM customer),
           |cells AS (SELECT lon, lat,
           |    CAST(floor((lon + 74.3) / 0.01) AS BIGINT) AS cx,
           |    CAST(floor((lat - 40.5) / 0.01) AS BIGINT) AS cy
           |  FROM pts),
           |z AS (SELECT lon, lat, $z AS z FROM cells)
           |SELECT z // 256 AS z_bucket, count(*) AS n,
           |  CAST(sum(CASE WHEN lon BETWEEN -74.05 AND -73.95
           |    AND lat BETWEEN 40.7 AND 40.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bbox
           |FROM z GROUP BY 1 HAVING sum(CASE WHEN lon BETWEEN -74.05 AND -73.95
           |  AND lat BETWEEN 40.7 AND 40.8 THEN 1 ELSE 0 END) > 0
           |ORDER BY 1""".stripMargin
      }),

    // J10 — point-in-CONVEX-polygon zone (completing J5 beyond rectangles;
    // reference sjoin within arbitrary polygons): containment expands at
    // plan time to one half-plane cross product per edge — codegen'd, no
    // geometry runtime. Pentagon over the NYC bbox.
    "j10_point_in_convex_zone" -> QueryDef(
      (s, dir) => {
        val pentagon = Seq(
          (-74.15, 40.60), (-73.85, 40.55), (-73.75, 40.80),
          (-74.00, 40.97), (-74.25, 40.85))
        Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .withColumn("inside",
            graft.spatial.PointInPolygon.containsConvex(col("lon"), col("lat"), pentagon))
          .groupBy("inside")
          .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 4).as("avg_bal"),
            round(avg("lon"), 6).as("avg_lon"), round(avg("lat"), 6).as("avg_lat"))
          .orderBy("inside")
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        val pentagon = Seq(
          (-74.15, 40.60), (-73.85, 40.55), (-73.75, 40.80),
          (-74.00, 40.97), (-74.25, 40.85))
        val pred = graft.spatial.PointInPolygon.containsConvexSql("lon", "lat", pentagon)
        s"""WITH pts AS (SELECT c_acctbal, $lonSql AS lon, $latSql AS lat FROM customer)
           |SELECT $pred AS inside, count(*) AS n,
           |  round(avg(c_acctbal), 4) AS avg_bal,
           |  round(avg(lon), 6) AS avg_lon, round(avg(lat), 6) AS avg_lat
           |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // J9 — skew-safe salted join: events carry only 5 event_type values, so
    // joining per-type stats back to 100k+ facts pins each type's volume on
    // one task; salting spreads every key over 16 sub-keys (see
    // ops.SkewJoin). Result is identical to the plain join — the oracle IS
    // the plain join.
    "j9_salted_skew_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.ops.SkewJoin.joinAggBack(ev, Seq("event_type"),
            Seq(avg("value").as("type_avg")), salts = 16)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            // + 0.0 canonicalizes IEEE -0.0 to +0.0 (DuckDB can emit the
            // opposite sign on an exactly-cancelling deviation sum).
            (round(sum(col("value") - col("type_avg")), 4) + lit(0.0)).as("sum_dev"),
            round(max(abs(col("value") - col("type_avg"))), 4).as("max_dev"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, avg(value) AS type_avg
             |          FROM events GROUP BY 1)
             |SELECT event_type, count(*) AS n,
             |  round(sum(value - type_avg), 4) + 0.0 AS sum_dev,
             |  round(max(abs(value - type_avg)), 4) AS max_dev
             |FROM events JOIN d USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // J8 — grid-cell containment join (reference O(cells×nodes) loop at
    // …bounds_analysis.ipynb:185-199) rewritten as floor-bucket groupBy:
    // the equi-join is implicit in the bucketing, no nested loop at any scale.
    "j8_grid_density" -> QueryDef(
      (s, dir) => Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
        .withColumn("cell_x", floor((col("lon") + lit(74.3)) / lit(0.05)))
        .withColumn("cell_y", floor((col("lat") - lit(40.5)) / lit(0.05)))
        .groupBy("cell_x", "cell_y")
        .agg(count(lit(1)).as("n_points"), round(avg("c_acctbal"), 4).as("avg_bal"))
        .filter(col("n_points") >= 3)
        .orderBy("cell_x", "cell_y"),
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""SELECT CAST(floor((lon + 74.3) / 0.05) AS BIGINT) AS cell_x,
           |  CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS cell_y,
           |  count(*) AS n_points, round(avg(c_acctbal), 4) AS avg_bal
           |FROM (SELECT c_acctbal, $lonSql AS lon, $latSql AS lat FROM customer)
           |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin
      }),

    // J12 — AS-OF join (each purchase matched to the user's LATEST click at
    // or before it): the time-series join Spark lacks as a native operator,
    // composed Spark-first as union + per-key ordered window with a
    // carried-forward last non-null — one shuffle on user_id, partitions
    // data-proportional per key, no range cross-join. Ties: clicks dedupe
    // to max event_id per (user, ts); a click AT the purchase timestamp
    // matches (side orders right before left at equal ts). The oracle is
    // DuckDB's native ASOF LEFT JOIN — an independent implementation of
    // the same semantics. Gaps stay integer seconds so every sum is exact.
    "j12_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts_ns").agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ns"), col("event_id"))
        val tagged = clicks
          .select(col("user_id"), col("ts_ns"), lit(0).as("side"), col("click_id"),
            lit(null).cast("long").as("p_id"))
          .unionByName(purchases
            .select(col("user_id"), col("ts_ns"), lit(1).as("side"),
              lit(null).cast("long").as("click_id"), col("event_id").as("p_id")))
        val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("last_click_ts",
            last(when(col("side") === 0, col("ts_ns")), ignoreNulls = true).over(w))
          .withColumn("last_click_id",
            last(col("click_id"), ignoreNulls = true).over(w))
          .filter(col("side") === 1)
          .withColumn("gap_s",
            expr("(ts_ns - last_click_ts) div 1000000000"))
          .groupBy(pmod(col("user_id"), lit(4L)).as("cohort"))
          .agg(count(lit(1)).as("n_purchases"),
            count(col("last_click_id")).as("n_matched"),
            sum("gap_s").as("total_gap_s"),
            max("gap_s").as("max_gap_s"),
            sum("last_click_id").as("sum_click_id"))
          .orderBy("cohort")
      },
      Some("""WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type
             |  FROM events),
             |clicks AS (SELECT user_id, ts_ns, max(event_id) AS click_id
             |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
             |p AS (SELECT user_id, ts_ns, event_id FROM ev
             |  WHERE event_type = 'purchase'),
             |j AS (SELECT p.user_id, p.ts_ns, p.event_id, c.click_id, c.ts_ns AS c_ts
             |  FROM p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns)
             |SELECT user_id % 4 AS cohort, count(*) AS n_purchases,
             |  count(click_id) AS n_matched,
             |  CAST(sum((ts_ns - c_ts) // 1000000000) AS BIGINT) AS total_gap_s,
             |  CAST(max((ts_ns - c_ts) // 1000000000) AS BIGINT) AS max_gap_s,
             |  CAST(sum(click_id) AS BIGINT) AS sum_click_id
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Engine-added — interval (range) join by bin bucketing. Each 'error'
    // event opens a 2-hour incident window; the query counts, per type, the
    // events falling inside ANY window. A raw `ts BETWEEN t0 AND t1` join
    // has no equi-key, so Spark plans a broadcast nested loop — O(n·m) and
    // a non-starter at scale. Bucketing both sides into hour bins (a fixed
    // window spans ≤ 3 bins) turns it into an equi-join on the bin key with
    // candidate fanout = bins × incidents-per-bin — data-proportional — and
    // the exact predicate re-checked on candidates. DISTINCT collapses
    // events matching several windows. Oracle: DuckDB's native IEJoin runs
    // the straight inequality join.
    "j13_range_bin_join" -> QueryDef(
      (s, dir) => {
        val hourNs = 3600000000000L
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("ts_ns"),
            expr(s"ts_ns div $hourNs").as("bin"))
        val inc = Tables.events(s, dir).filter(col("event_type") === "error")
          .select(col("ts_ns").as("t0"), (col("ts_ns") + lit(2L * hourNs)).as("t1"))
          .select(col("t0"), col("t1"),
            explode(sequence(expr(s"t0 div $hourNs"), expr(s"t1 div $hourNs"))).as("bin"))
        val hits = ev.join(inc, "bin")
          .filter(col("ts_ns") >= col("t0") && col("ts_ns") < col("t1"))
          .select("event_id", "event_type").distinct()
        ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
          .join(hits.groupBy("event_type").agg(count(lit(1)).as("n_during")), "event_type")
          .select(col("event_type"), col("n_events"), col("n_during"),
            round(col("n_during").cast("double") / col("n_events"), 6).as("during_rate"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
             |inc AS (SELECT ts_ns AS t0, ts_ns + 7200000000000 AS t1
             |  FROM ev WHERE event_type = 'error'),
             |hits AS (SELECT DISTINCT e.event_id, e.event_type
             |  FROM ev e JOIN inc ON e.ts_ns >= inc.t0 AND e.ts_ns < inc.t1),
             |tot AS (SELECT event_type, count(*) AS n_events FROM ev GROUP BY 1),
             |dur AS (SELECT event_type, count(*) AS n_during FROM hits GROUP BY 1)
             |SELECT event_type, n_events, n_during,
             |  round(n_during / CAST(n_events AS DOUBLE), 6) AS during_rate
             |FROM tot JOIN dur USING (event_type) ORDER BY 1""".stripMargin)),

    // Engine-added — distance-band spatial self-join: all point pairs
    // within eps, as a standalone op (the candidate-generation core of
    // DBSCAN/LISA exposed directly). The op's output is an AGGREGATE over
    // the pairs, so spatial.DistanceBand never enumerates them: coincident
    // points collapse to weighted locations first (GEOSCALE_r06.json
    // records the naive id-level shape at 4.6·10⁸ pairs on its 10×
    // coincident-mass corpus — the collapsed plan folds the same aggregate
    // over ~15k location pairs), then an eps-cell 3×3 grid equi-join with
    // exact recheck bounds cross-location work by local DISTINCT-location
    // density (ops.GridGuard refuses the genuinely quadratic cell). The
    // oracle is the direct quadratic join — affordable at oracle SF,
    // same exact IEEE distance filter.
    "j14_distance_band_pairs" -> QueryDef(
      (s, dir) => {
        val pts = Tables.withSyntheticPoint(
            Tables.supplier(s, dir).select(col("s_suppkey").as("id")), "id")
          .select(col("id"), col("lon").as("x"), col("lat").as("y"))
        graft.spatial.DistanceBand.pairStats(pts, eps = 0.05)
      },
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("s_suppkey")
        s"""WITH p AS (SELECT s_suppkey AS id, $lonSql AS lon, $latSql AS lat
           |  FROM supplier),
           |pr AS (SELECT a.id AS ia, b.id AS ib,
           |    (a.lon - b.lon) * (a.lon - b.lon)
           |      + (a.lat - b.lat) * (a.lat - b.lat) AS d2
           |  FROM p a JOIN p b ON a.id < b.id)
           |SELECT count(*) AS n_pairs,
           |  CAST(coalesce(sum(ia + ib), 0) AS BIGINT) AS id_checksum,
           |  round(min(sqrt(d2)), 6) AS min_dist,
           |  round(max(sqrt(d2)), 6) AS max_dist
           |FROM pr WHERE d2 <= 0.05 * 0.05""".stripMargin
      }),

    // J15 — bloom-pre-filtered semi join: the EXPLICIT form of Spark's own
    // runtime bloom filter (InjectRuntimeFilter), built with the same
    // sketch aggregate it uses internally (re-exposed as bloom_build /
    // bloom_might_contain in GraftFunctions). The selective dim side
    // (high-value orders) builds a bloom over xxhash64(o_orderkey); the
    // sketch rides a SCALAR SUBQUERY into a fact-side filter that runs
    // BEFORE the join's exchange — at 100 TB this is what keeps ~96% of
    // fact rows out of the shuffle. False positives don't matter for
    // correctness: the exact broadcast semi join behind the probe removes
    // them, so the oracle is the plain semi join.
    "j15_bloom_semi_join" -> QueryDef(
      (s, dir) => {
        val dim = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 480000.0)
          .select(col("o_orderkey"))
        val bloom = dim
          .agg(expr("bloom_build(xxhash64(o_orderkey), 2000, 20000)").as("bf"))
          .scalar()
        Tables.lineitem(s, dir)
          .filter(call_function("bloom_might_contain", bloom, xxhash64(col("l_orderkey"))))
          .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |    AS price_cents
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_totalprice > 480000.0)
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
