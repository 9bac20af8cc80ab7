package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Direct calls into the engine's modules for a traced pass, each under its
  * own job group so the trace charges its jobs to it. Every call's result
  * is fully executed (noop sink) and the call's blocks are released after.
  *
  * Inputs are the pass's generated tables, shaped the way the engine's own
  * queries and lab pipelines shape them.
  */
object Layers {
  def dirMb(f: File): Double =
    if (f.isFile) f.length / (1024.0 * 1024.0)
    else Option(f.listFiles()).map(_.map(dirMb).sum).getOrElse(0.0)

  def run(spark: SparkSession, dir: String, trace: Trace): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]

    /** Time `body` (including full execution of the frame it returns) under
      * the label `layer:<name>`; return seconds and jobs. */
    def timed(name: String)(body: => DataFrame): (Double, Long) = {
      val l = s"layer:$name"
      trace.label = l
      spark.sparkContext.setJobGroup(l, l, interruptOnCancel = false)
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      graft.core.GraftSession.releaseTransientBlocks(spark)
      trace.settle()
      (s, trace.jobs(l))
    }
    def seconds(metric: String, name: String)(body: => DataFrame): Unit =
      out += metric -> timed(name)(body)._1
    def withJobs(prefix: String, name: String)(body: => DataFrame): Unit = {
      val (s, j) = timed(name)(body)
      out += s"${prefix}_s" -> s
      out += s"${prefix}_jobs" -> j.toDouble
    }

    def errorPoints = Tables.withSyntheticPoint(
        Tables.events(spark, dir).filter(col("event_type") === "error"), "event_id")
      .select(col("event_id").as("id"), col("lon").as("x"), col("lat").as("y"))
    def customerPoints = Tables.withSyntheticPoint(Tables.customer(spark, dir), "c_custkey")
      .select(col("c_custkey").as("id"), col("lon").as("x"), col("lat").as("y"))
    def supplierPoints = Tables.withSyntheticPoint(
        Tables.supplier(spark, dir).select(col("s_suppkey").as("id")), "id")
      .select(col("id"), col("lon").as("x"), col("lat").as("y"))
    // The supplier road graph of lab 3 and the graph queries.
    def roadEdges = {
      val supp = Tables.supplier(spark, dir).select(col("s_suppkey").as("k"))
      val base = supp.crossJoin(broadcast(supp.agg(count(lit(1)).as("n"))))
      Seq(col("k") + 1, col("k") + 7, col("k") * 3 + 1)
        .map(d => base.select(col("k").as("src"), pmod(d, col("n")).as("dst")))
        .reduce(_ unionByName _)
        .withColumn("w", pmod(col("src") * 7 + col("dst") * 13, lit(20L)) + 1)
    }
    def shingles = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(graft.functions.ShingleExpr.shinglesNative(
        graft.functions.TextFunctions.tokens(col("text")), 3)).as("shingle"))

    // ml
    withJobs("ml.dbscan", "dbscan")(graft.ml.Dbscan.run(errorPoints, eps = 0.017, minPts = 5))
    seconds("ml.kmeans_s", "kmeans")(graft.ml.MlPipelines.kmeansZones(errorPoints, k = 8))
    withJobs("ml.gbt_fit", "gbt_fit") {
      val li = Tables.lineitem(spark, dir)
        .withColumn("dow", dayofweek(col("l_shipdate")))
        .withColumn("mo", month(col("l_shipdate")))
        .withColumn("y",
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .withColumn("is_train", pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) < 70)
      graft.ml.MlPipelines.gbtFitCounted(li.filter(col("is_train")), li.filter(!col("is_train")),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "dow", "mo"), "y")._1
    }
    seconds("ml.knn_s", "knn")(graft.ml.Knn.neighborsAuto(customerPoints, k = 5))

    // graph
    withJobs("graph.sssp", "sssp")(graft.graph.GraphOps.sssp(roadEdges, 0L, 8))
    withJobs("graph.cc", "cc")(graft.graph.GraphOps.connectedComponents(roadEdges))

    // ops
    seconds("ops.shingle_index_s", "shingle_index")(graft.ops.ShingleIndex.capped(spark, dir))
    seconds("ops.simhash_pairs_s", "simhash_pairs") {
      val plan = graft.ops.SimHashWide.planFor(Tables.documents(spark, dir).count(), hamming = 3)
      val sigs = graft.ops.SimHashWide.signatures(shingles, plan.words).persist()
      graft.ops.SimHashWide.nearDupPairs(sigs, plan)
    }
    seconds("ops.cumulative_s", "cumulative")(graft.ops.Cumulative.runningSum(
      Tables.lineitem(spark, dir),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      col("l_quantity"), "rnk", "cum"))
    seconds("ops.sessionize_s", "sessionize")(graft.ops.Sessionize.byGapPerKey(
      Tables.events(spark, dir).withColumn("t_s", expr("ts_ns div 1000000000")),
      col("user_id"), col("t_s"), 1800L))
    seconds("ops.anomaly_s", "anomaly")(
      graft.ops.Anomaly.highDensityPeriods(Tables.events(spark, dir)))

    // functions: row rates through the engine's native expressions
    val liRows = Tables.lineitem(spark, dir).count().toDouble
    val geoS = timed("geo") {
      Tables.withSyntheticPoint(Tables.lineitem(spark, dir), "l_orderkey")
        .select(graft.functions.GeoFunctions.haversineKm(
            col("lat"), col("lon"), lit(40.758), lit(-73.9857)).as("km"),
          expr("st_project_utm(lon, lat, 18)").as("utm"))
    }._1
    out += "functions.geo_rows_per_s" -> liRows / geoS
    val docRows = Tables.documents(spark, dir).count().toDouble
    out += "functions.shingle_rows_per_s" -> docRows / timed("shingles")(shingles)._1
    seconds("functions.sorted_sum_s", "sorted_sum")(Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(graft.functions.SortedSumD.sortedSum(col("l_extendedprice")).as("s")))

    // spatial, sources
    seconds("spatial.distance_band_s", "distance_band")(
      graft.spatial.DistanceBand.pairStats(supplierPoints, eps = 0.05))
    seconds("sources.geotiff_s", "geotiff")(graft.sources.GeoTiff.read(
      spark, graft.sources.Fixtures.path("fixtures/dem50x60.tif"))._1)

    // streaming: bounded replays (their figures come from the stream listener)
    seconds("streaming.replay_s", "streaming") {
      val all = graft.SparkEntry.all
      all("w10_stream_hourly").fn(spark, dir)
        .write.format("noop").mode("overwrite").save()
      all("w11_stream_sessions").fn(spark, dir)
    }

    // pipelines: the four labs end to end
    seconds("pipelines.lab1_s", "lab1")(graft.pipelines.Pipelines.noiseHotspots(spark, dir))
    seconds("pipelines.lab2_s", "lab2")(graft.pipelines.Pipelines.tripDuration(spark, dir))
    seconds("pipelines.lab3_s", "lab3")(graft.pipelines.Pipelines.roadNetwork(spark, dir))
    seconds("pipelines.lab4_s", "lab4")(graft.pipelines.Pipelines.reviewSentiment(spark, dir))

    trace.label = ""
    out.result()
  }
}
