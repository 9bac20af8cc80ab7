package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming flavor of the lab-1 high-density pipeline (SURVEY.md §7.2;
  * batch semantics in graft.ops.Anomaly): tumbling hourly counts, threshold
  * alerts, and per-user gap sessions — all over an event stream with
  * event-time watermarks. Works identically on batch DataFrames (the
  * transformations are mode-agnostic; only source/sink differ).
  *
  * Late-data policy: 1-hour watermark — state for an hour window is dropped
  * once the watermark passes, mirroring the batch gap rule (SURVEY §7.4.7).
  */
object EventsAnomaly {

  /** Tumbling 1-hour counts. `events` needs a TimestampType `ts`. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("cnt"))

  /** Hours whose count exceeds a fixed threshold. The batch pipeline derives
    * the threshold as mean+2σ over ALL hours — a global two-pass statistic
    * that has no bounded-state streaming form; production recomputes it
    * periodically from the batch profile and feeds it here. */
  def alerts(events: DataFrame, threshold: Long): DataFrame =
    hourlyCounts(events).filter(col("cnt") > threshold)

  /** Per-user gap sessions via native session_window (the streaming
    * equivalent of ops.Sessionize): events merge while consecutive gaps are
    * < gap. Returns one row per closed session. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))

  /** Stream-static enrichment: the canonical "join the stream to a slowly-
    * changing dimension" pattern. The dimension is broadcast (static side of
    * a stream-static join is re-read per micro-batch; broadcasting pins it
    * executor-local), then hourly per-key windowed counts. `dim` must carry
    * (rk, r_name); events join on user_id mod the dimension key space. */
  def enrichedHourly(events: DataFrame, dim: DataFrame, keySpace: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("rk", pmod(col("user_id"), lit(keySpace.toLong)))
      .join(broadcast(dim), "rk")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("r_name"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("r_name"), col("cnt"))

  /** Streaming exact dedup: drop repeated ids across micro-batches, with
    * dedup state expiring once the watermark passes an id's event time —
    * the streaming half of the exact-dedup operator (batch form:
    * d1_exact_dedup). dropDuplicatesWithinWatermark dedups on the id columns
    * ALONE (a duplicate of the same id at a different timestamp still drops,
    * as long as it arrives within the watermark delay) — plain
    * dropDuplicates(id :+ ts) would silently keep same-id-different-ts
    * duplicates. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** STREAM-STREAM interval join: purchases join the same user's clicks
    * within the trailing `windowSec` seconds — the canonical two-stream
    * correlation (ad attribution, conversion windows). Both sides carry
    * watermarks; the event-time range condition lets Spark bound the join
    * state (click state drops once the watermark passes click.ts +
    * windowSec). INNER join, so matches emit as they are found — bounded
    * replay surfaces every pair without waiting for state expiry. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      windowSec: Long): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts_ns").as("p_ts_ns"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts_ns").as("c_ts_ns"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    p.join(c, expr(
      s"""p_user = c_user AND
         |c_ts >= p_ts - INTERVAL $windowSec SECONDS AND
         |c_ts <= p_ts""".stripMargin))
  }

  /** State-partition count for a bounded replay, derived from the SOURCE
    * VOLUME instead of inherited from the session core count (round-14,
    * guide §2.2/§2.5: partition counts must follow data, not the box).
    *
    * Why: every stateful micro-batch pays a fixed per-state-partition cost
    * (state store open/commit/maintenance, and at high thread counts a
    * measured super-linear contention term), while the state itself is
    * bounded by the watermark horizon. Measured on w15_stream_join at
    * sf0.1 (40k join-state rows, warm rep): 32 partitions = 204 s task
    * time / 9.5 s wall; 16 = 44 s / 5.0 s; 4 = 3.6 s / 2.9 s — the
    * per-task cost itself GROWS with the partition count (6.4 s → 0.9 s),
    * so inheriting local[32]'s default was pure overhead at this state
    * size. The rule sizes partitions at one per ~32 MB of source bytes
    * (clamped to [4, 1024]) — sf0.1's ~4 MB stream runs at 4, a
    * terabyte-scale stream derives hundreds. Results are partition-count-
    * independent (hash routing only), which the 6 streaming oracles
    * re-verify.
    *
    * Sizing goes through the Hadoop FS (round-15, ADVICE r14): java.io.File
    * reads ~0 bytes for any non-local URI (hdfs://, s3a://) or nested/
    * partitioned layout (listFiles is non-recursive) and would silently
    * clamp a terabyte stream to 4 state partitions on cluster storage.
    * getContentSummary walks the tree through whatever filesystem the path
    * names. A sizing failure stops the replay with the path and cause: a
    * transient remote-FS error must not quietly become the 4-partition
    * floor. */
  private def streamShuffleParts(spark: SparkSession, parquetPath: String): Int = {
    val bytes =
      try {
        val path = new org.apache.hadoop.fs.Path(parquetPath)
        val conf = spark.sparkContext.hadoopConfiguration
        path.getFileSystem(conf).getContentSummary(path).getLength
      } catch {
        case e: Exception =>
          throw new IllegalStateException(
            s"streaming source sizing failed for $parquetPath: ${e.getMessage}", e)
      }
    val parts = math.min(1024L, math.max(4L, bytes / (32L << 20))).toInt
    System.err.println(s"[streaming] $parquetPath: $bytes source bytes -> $parts state partitions")
    parts
  }

  /** RAM-backed checkpoint dir for a bounded replay, when the host has one.
    *
    * A replay is ephemeral BY CONSTRUCTION — bounded input, memory sink,
    * the checkpoint is discarded the moment the query terminates — so its
    * checkpoint needs none of the durability a production job's does, yet
    * the default temp location puts it on real disk, where every state
    * store delta + offset/commit log fsyncs. Measured (BASELINE.md
    * "w10_stream_hourly: profiled anatomy", sf0.1, 32 state partitions):
    * disk-synced checkpoints cost ~9 ms per state partition per batch of
    * pure sync latency — ~0.3 s of the w10 replay —
    * and that latency moves with host windows, which is exactly the noise
    * a correctness/bench harness should not carry. Production jobs keep
    * durable checkpoints; match durability to what the artifact needs. */
  private def ephemeralCheckpoint(): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      Some(new java.io.File(shm,
        "graft-replay-" + java.util.UUID.randomUUID().toString).getPath)
    else None
  }

  /** Like [[ephemeralCheckpoint]] but never absent — file sinks REQUIRE a
    * checkpoint location, so fall back to the JVM temp dir off-shm. */
  private def requiredCheckpoint(): String =
    ephemeralCheckpoint().getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"),
        "graft-replay-" + java.util.UUID.randomUUID().toString).getPath)

  /** Per-replay parquet sink dir under the app's staging root (shutdown-
    * hook cleaned, same lifecycle as the staged indexes). */
  private def sinkDir(spark: SparkSession): String =
    graft.ops.Staged.appRoot(spark) + "/replay-sink-" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Read a replay sink dir back, tolerating the ZERO-OUTPUT case: an
    * append-mode run whose rows are all held back by the final watermark
    * (tiny corpus) or a zero-batch run commits no data files, and
    * spark.read.parquet on a data-less dir throws a schema-inference error
    * where the old memory sink returned an empty table WITH a schema.
    * `schema` is the transform's output schema — the empty frame keeps the
    * sink contract. */
  private def readSinkOrEmpty(spark: SparkSession, out: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val files = new java.io.File(out).listFiles()
    val hasData = files != null && files.exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    if (hasData) spark.read.parquet(out)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Start `dsw` (with `ckpt` as its checkpoint when given), await the
    * bounded run, and delete the checkpoint — the shared tail of every
    * replay variant. Each replay owns a fresh throwaway checkpoint, so
    * every run is a full replay.
    *
    * The session's shuffle-partition conf is pinned to
    * [[streamShuffleParts]] for the run and restored after. A NEW
    * streaming checkpoint pins its state partition count from this conf at
    * first-batch planning, so the pin only needs to span query start →
    * termination; the batch rollups over the sink run at the session's
    * normal width. */
  private def runBounded(spark: SparkSession, parquetPath: String,
      dsw: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      ckpt: Option[String]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, streamShuffleParts(spark, parquetPath).toString)
    try {
      val q = ckpt.fold(dsw)(dsw.option("checkpointLocation", _)).start()
      try q.awaitTermination()
      finally ckpt.foreach(c => deleteRecursively(new java.io.File(c)))
    } finally spark.conf.set(key, prev)
  }

  private def boundedSource(spark: SparkSession, parquetPath: String): DataFrame = {
    val schema = spark.read.parquet(parquetPath).schema
    // File-stream sources require a directory: stream the parent dir with a
    // glob pinned to the one file.
    val f = new java.io.File(parquetPath)
    spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName)
      .parquet(f.getParent)
  }

  /** Run a streaming transformation over a bounded parquet source with
    * Trigger.AvailableNow and a memory sink, returning the final result —
    * the replay harness that lets the correctness gate cover the streaming
    * path with the same oracle as the batch query.
    *
    * MEMORY SINK CONTRACT: only for transforms whose complete-mode output
    * is aggregate-BOUNDED at any corpus size (hourly counts ≈ hours span,
    * per-type rollups ≈ type cardinality). A data-proportional output
    * through this sink is collected to the driver per micro-batch — the
    * sf10 whale killed w11 exactly there (spark.driver.maxResultSize at
    * 10M events). Data-proportional complete aggregates use
    * [[replayBoundedLarge]]; data-proportional append emissions use the
    * file-sink variants below. */
  def replayBounded(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val name = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    runBounded(spark, parquetPath,
      transform(boundedSource(spark, parquetPath)).writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()),
      ephemeralCheckpoint())
    spark.table(name)
  }

  /** Complete-mode replay for DATA-PROPORTIONAL aggregates (session
    * windows): each micro-batch's complete result table is written to
    * parquet by the EXECUTORS (foreachBatch overwrite — the streaming
    * equivalent of maintaining a sink table), so no row ever funnels
    * through the driver; the last batch's overwrite is the final state.
    * Complete mode is what keeps bounded-replay parity with the batch
    * oracle — in append mode the sessions still inside the final watermark
    * horizon would stay in state and never emit. */
  def replayBoundedLarge(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val out = sinkDir(spark)
    val write: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => batch.write.mode("overwrite").parquet(out)
    val transformed = transform(boundedSource(spark, parquetPath))
    runBounded(spark, parquetPath,
      transformed.writeStream
        .outputMode("complete")
        .foreachBatch(write)
        .trigger(Trigger.AvailableNow()),
      ephemeralCheckpoint())
    readSinkOrEmpty(spark, out, transformed.schema)
  }

  /** Shared tail of the append-mode replays: a real parquet FILE sink (the
    * production shape for data-proportional emissions — join pairs and
    * per-event state outputs scale with the corpus, so a driver-side memory
    * sink is a maxResultSize OOM waiting for scale). Executors append
    * finished rows to the sink directory; the result is read back as a
    * plain parquet frame. File sinks require a checkpoint, so this variant
    * always has one. */
  private def runBoundedToFiles(spark: SparkSession, df: DataFrame,
      parquetPath: String): DataFrame = {
    val out = sinkDir(spark)
    runBounded(spark, parquetPath,
      df.writeStream
        .format("parquet").option("path", out)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()),
      Some(requiredCheckpoint()))
    readSinkOrEmpty(spark, out, df.schema)
  }

  /** Two-source APPEND-mode replay for stream-stream joins: each side gets
    * its own file-stream instance over the same bounded source (two
    * independent streams, as production would have two topics), the join's
    * emitted rows accumulate in the file sink. Complete mode is
    * aggregation-only in Spark, so joins need this append variant. */
  def replayBoundedJoin(spark: SparkSession, parquetPath: String,
      transform: (DataFrame, DataFrame) => DataFrame): DataFrame =
    runBoundedToFiles(spark,
      transform(boundedSource(spark, parquetPath), boundedSource(spark, parquetPath)),
      parquetPath)

  /** Single-source APPEND-mode replay: for stateful operators that emit
    * rows incrementally (flatMapGroupsWithState) rather than maintaining a
    * complete aggregate. */
  def replayBoundedAppend(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame =
    runBoundedToFiles(spark, transform(boundedSource(spark, parquetPath)), parquetPath)
}
