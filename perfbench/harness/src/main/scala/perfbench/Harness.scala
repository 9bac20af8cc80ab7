package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark pass in a fresh JVM: build the engine session, run the
  * workload's queries one at a time (closed loop, one client), write every
  * output column of every query as parquet, and report what it cost.
  *
  * Usage:
  *   perfbench.Harness --data DIR --out DIR --queries q1,q2,... --cpus N
  *     --result FILE [--trace]
  *
  * The result file is one JSON object:
  *   ready_ms          epoch ms when the session was ready (the launcher
  *                     subtracts its own launch time to get set-up time)
  *   wall_s, cpu_s     workload wall time and process CPU (utime + stime
  *                     from /proc/self/stat) over the query loop
  *   peak_rss_mb       VmHWM of this process
  *   queries           {name: {s, ok, error?}}
  *   trace             per-layer figures (with --trace: listeners attached,
  *                     then direct layer calls after the workload)
  *
  * Oracle SQL for the workload goes to DIR/oracle_sql.json after the timed
  * loop, so the launcher can check the outputs in DuckDB.
  */
object Harness {
  final case class Opts(data: String, out: String, queries: Seq[String], cpus: Int,
      result: String, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a == "--trace") { kv(a) = "true"; i += 1 }
      else { kv(a) = args(i + 1); i += 2 }
    }
    Opts(kv("--data"), kv("--out"), kv("--queries").split(",").toSeq.filter(_.nonEmpty),
      kv.getOrElse("--cpus", "4").toInt, kv("--result"), kv.contains("--trace"))
  }

  /** utime + stime of this process, in seconds. */
  def procCpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    // Fields after the parenthesised command name; utime and stime are the
    // 14th and 15th fields overall, i.e. the 12th and 13th after ") ".
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (rest(11).toLong + rest(12).toLong) / 100.0 // USER_HZ is 100 on Linux
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.out).mkdirs()
    val s0 = System.nanoTime()
    val spark = graft.core.GraftSession.local(o.cpus)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val readyMs = System.currentTimeMillis()
    val trace = if (o.trace) Some(Trace.attach(spark)) else None

    val perQuery = mutable.LinkedHashMap[String, (Double, Option[String])]()
    var persisted = 0
    val cpu0 = procCpuSeconds()
    val w0 = System.nanoTime()
    for (name <- o.queries) {
      trace.foreach(_.label = name)
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val err = try {
        val fn = graft.SparkEntry.all(name).fn
        fn(spark, o.data).write.mode("overwrite").parquet(s"${o.out}/$name")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      perQuery(name) = ((System.nanoTime() - t0) / 1e9, err)
      spark.sparkContext.clearJobGroup()
      // The engine's own between-queries block hygiene (as in graft.Verify).
      persisted += spark.sparkContext.getPersistentRDDs.size
      graft.core.GraftSession.releaseTransientBlocks(spark)
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = procCpuSeconds() - cpu0
    val rssMb = peakRssMb()

    val traced: Map[String, Double] = trace.map { t =>
      t.label = ""
      val layerFigures = Layers.run(spark, o.data, t)
      t.settle()
      t.workloadFigures(o.queries.toSet, wallS) ++ t.streamFigures() ++ layerFigures ++ Map(
        "core.session_s" -> sessionS,
        "core.persisted_blocks" -> persisted.toDouble,
        "ops.staged_mb" -> Layers.dirMb(new File(graft.ops.Staged.appRoot(spark))))
    }.getOrElse(Map.empty)

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }
    Files.writeString(Paths.get(s"${o.out}/oracle_sql.json"), Json.obj(oracle.toSeq.map {
      case (k, v) => k -> Json.str(v)
    }))

    val queriesJson = Json.obj(perQuery.toSeq.map { case (k, (s, err)) =>
      k -> Json.obj(Seq("s" -> Json.num(s), "ok" -> (if (err.isEmpty) "true" else "false")) ++
        err.map(e => "error" -> Json.str(e)).toSeq)
    })
    Files.writeString(Paths.get(o.result), Json.obj(Seq(
      "ready_ms" -> readyMs.toString,
      "wall_s" -> Json.num(wallS),
      "cpu_s" -> Json.num(cpuS),
      "peak_rss_mb" -> Json.num(rssMb),
      "queries" -> queriesJson,
      "trace" -> Json.obj(traced.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    spark.stop()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
