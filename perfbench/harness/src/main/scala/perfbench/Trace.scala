package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work attribution for a traced pass: one SparkListener that charges jobs,
  * stages and tasks to the job group the harness set around each query or
  * layer call, plus a StreamingQueryListener for micro-batch figures.
  *
  * Micro-batch jobs run on the stream's own thread under the stream's own
  * job group, so a job whose group the harness did not set is charged to
  * the harness's current label instead.
  *
  * The listener also times its own event handling per label; summed over
  * the workload it is `trace.listener_s`, the work tracing adds, which the
  * traced-minus-untraced wall difference cannot separate from host noise.
  */
final class Trace extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, waitMs = 0L
    var shuffleWrite, spill, input = 0L
    var listenerNs = 0L // time this listener spent handling the label's events
  }

  @volatile private var current = ""
  private val known = mutable.Set[String]()
  private val aggs = mutable.Map[String, Agg]()
  private val stageLabel = mutable.Map[Int, String]()
  private val jobSubmit = mutable.Map[Int, (String, Long)]()
  private val jobFirstTask = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  @volatile private var lastEventNs = System.nanoTime()
  private var openJobs = 0

  // Stream figures: progress events per run id.
  private var batches = 0L
  private var batchMs, commitMs = 0L
  private val stateByRun = mutable.Map[java.util.UUID, (Long, Long, Long)]()

  def label: String = current
  def label_=(l: String): Unit = synchronized { known += l; current = l }

  private def agg(l: String): Agg = aggs.getOrElseUpdate(l, new Agg)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  /** Handle one event; `body` returns the label it charged, which is also
    * charged the time spent handling the event (tracing's own cost). */
  private def handle(body: => String): Unit = synchronized {
    val t0 = System.nanoTime()
    touch()
    val l = body
    agg(l).listenerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val l = group.filter(known.contains).getOrElse(current)
    agg(l).jobs += 1
    openJobs += 1
    jobSubmit(e.jobId) = (l, e.time)
    e.stageIds.foreach { s =>
      stageLabel.getOrElseUpdate(s, l)
      stageJob.getOrElseUpdate(s, e.jobId)
    }
    l
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = handle {
    val l = stageLabel.getOrElse(e.stageInfo.stageId, current)
    agg(l).stages += 1
    l
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = handle {
    stageJob.get(e.stageId).foreach { j =>
      val t = e.taskInfo.launchTime
      if (jobFirstTask.get(j).forall(_ > t)) jobFirstTask(j) = t
    }
    stageLabel.getOrElse(e.stageId, current)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val l = stageLabel.getOrElse(e.stageId, current)
    val a = agg(l)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
    l
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
    openJobs -= 1
    jobSubmit.remove(e.jobId).map { case (l, submit) =>
      jobFirstTask.remove(e.jobId).foreach(first => agg(l).waitMs += math.max(0L, first - submit))
      l
    }.getOrElse(current)
  }

  private[perfbench] val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        touch()
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches += 1
        batchMs += d("triggerExecution")
        commitMs += d("walCommit") + d("commitOffsets")
        if (p.stateOperators.nonEmpty) {
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
          val parts = p.stateOperators.map(_.numShufflePartitions).sum
          val (r0, b0, p0) = stateByRun.getOrElse(p.runId, (0L, 0L, 0L))
          stateByRun(p.runId) = (math.max(r0, rows), math.max(b0, bytes), math.max(p0, parts))
        }
      }
  }

  /** Wait until the listener bus has delivered every event of the finished
    * work: no job open and no event for a quiet spell (bounded at 30 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 30_000_000_000L
    while (System.nanoTime() < deadline &&
        (synchronized(openJobs) > 0 || System.nanoTime() - lastEventNs < 300_000_000L))
      Thread.sleep(50)
  }

  def jobs(l: String): Long = synchronized(aggs.get(l).map(_.jobs).getOrElse(0L))

  /** Summed figures over the workload's query labels. */
  def workloadFigures(labels: Set[String], wallS: Double): Map[String, Double] = synchronized {
    val as = aggs.collect { case (l, a) if labels.contains(l) => a }
    def sum(f: Agg => Long): Double = as.map(f).sum.toDouble
    val taskS = sum(_.taskMs) / 1000.0
    val mb = 1024.0 * 1024.0
    Map(
      "queries.jobs" -> sum(_.jobs),
      "queries.stages" -> sum(_.stages),
      "queries.tasks" -> sum(_.tasks),
      "queries.task_s" -> taskS,
      "queries.parallelism" -> taskS / wallS,
      "queries.wait_s" -> sum(_.waitMs) / 1000.0,
      "queries.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
      "queries.spill_mb" -> sum(_.spill) / mb,
      "queries.gc_s" -> sum(_.gcMs) / 1000.0,
      "core.input_mb" -> sum(_.input) / mb,
      "trace.listener_s" -> sum(_.listenerNs) / 1e9)
  }

  def streamFigures(): Map[String, Double] = synchronized {
    val st = stateByRun.values
    Map(
      "streaming.batches" -> batches.toDouble,
      "streaming.batch_s" -> batchMs / 1000.0,
      "streaming.commit_s" -> commitMs / 1000.0,
      "streaming.state_rows" -> st.map(_._1).sum.toDouble,
      "streaming.state_mb" -> st.map(_._2).sum / (1024.0 * 1024.0),
      "streaming.partitions" -> st.map(_._3).sum.toDouble)
  }
}

object Trace {
  def attach(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streams)
    t
  }
}
