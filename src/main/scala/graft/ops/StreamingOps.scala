package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine: the same windowed validation
  * aggregations, expressed over an unbounded source with watermarks. The
  * reference is pure batch (each HTTP call = one complete batch,
  * detector_api/app/api.py:27); this extends the engine to continuous
  * ingestion — the "window" maps to an event-time tumbling window instead of
  * a static partition. */
object StreamingOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-hour event-time windows with a 2-hour watermark: counts and
    * value sums per (window, event_type) — the streaming twin of
    * TpchQueries.eventsHourlyAgg. */
  def hourlyEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .select(col("w.start").as("hr"), col("event_type"), col("cnt"), col("sum_v"))

  // ---- custom-state streaming drift (flatMapGroupsWithState) ----

  /** Keyed bucket row after projection. `ts` carries the watermark tag —
    * the event-time attribute must survive the projection for the
    * event-time timeout to be analyzable. */
  case class BucketEvent(ts: java.sql.Timestamp, event_type: String,
                         window_start: java.sql.Timestamp,
                         window_ms: Long, bucket: Int)
  /** Custom state: the running value-histogram of one (event_type, window). */
  case class Hist(counts: Array[Long])
  /** Emitted verdict — reference-shaped (distance + is_drift), `is_final` set
    * when the watermark has closed the window (state evicted). */
  case class StreamDriftVerdict(event_type: String, window_start: java.sql.Timestamp,
                                n: Long, psi: Double, is_drift: Boolean, is_final: Boolean)

  /** Continuous drift detection with CUSTOM per-key state: for every
    * (event_type, event-time window), a `flatMapGroupsWithState` operator
    * maintains a running histogram of `value` buckets and emits a PSI-vs-
    * reference verdict after each update; when the event-time watermark passes
    * the window end, the state times out, the FINAL verdict is emitted and
    * the state is evicted — bounded memory over an unbounded stream.
    *
    * This is the streaming twin of DriftChecks.psi: same bucket proportions →
    * StatMath.psi → gate at `psiThreshold` (0.2 = the standard "major shift"
    * gate, mirroring the reference's verdict contract
    * detector_api/app/detector.py:62-69 of statistic → boolean).
    *
    * State size is O(keys-in-flight × buckets) — keys leave via timeout, so a
    * 10^12-event stream holds only the open windows' histograms per executor.
    */
  def driftPerWindow(events: DataFrame, refProps: Array[Double],
                     bucketWidth: Double = 10.0,
                     windowDuration: String = "1 hour",
                     watermarkDelay: String = "2 hours",
                     psiThreshold: Double = 0.2): Dataset[StreamDriftVerdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    val nBuckets = refProps.length
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
    val delayMillis = delayMs.days.toLong * 86400000L + delayMs.microseconds / 1000L
    val keyed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("event_type"),
        window(col("ts"), windowDuration).getField("start").as("window_start"),
        (unix_millis(window(col("ts"), windowDuration).getField("end")) + delayMillis)
          .as("window_ms"), // timeout target: window end + watermark delay
        least(greatest(floor(col("value") / bucketWidth), lit(0)), lit(nBuckets - 1))
          .cast("int").as("bucket"))
      .as[BucketEvent]

    def verdict(key: (String, java.sql.Timestamp), h: Hist, isFinal: Boolean): StreamDriftVerdict = {
      val n = h.counts.sum
      val prodProps = if (n == 0) Array.fill(nBuckets)(0.0)
        else h.counts.map(_.toDouble / n)
      val psi = graft.stats.StatMath.psi(refProps, prodProps)
      StreamDriftVerdict(key._1, key._2, n, psi, psi > psiThreshold, isFinal)
    }

    keyed
      .groupByKey(e => (e.event_type, e.window_start))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, java.sql.Timestamp), rows: Iterator[BucketEvent], state: GroupState[Hist]) =>
          if (state.hasTimedOut) {
            val fin = verdict(key, state.get, isFinal = true)
            state.remove()
            Iterator.single(fin)
          } else {
            val h = state.getOption.getOrElse(Hist(new Array[Long](nBuckets)))
            var timeoutAt = 0L
            rows.foreach { e => h.counts(e.bucket) += 1L; timeoutAt = e.window_ms }
            state.update(h)
            // evict once the watermark passes window end (+ delay already added)
            state.setTimeoutTimestamp(math.max(timeoutAt,
              state.getCurrentWatermarkMs() + 1))
            Iterator.single(verdict(key, h, isFinal = false))
          }
      }
  }

  /** Batch twin of [[driftPerWindow]] — identical bucketization and PSI math
    * over a static DataFrame (the equivalence oracle for tests). */
  def driftPerWindowBatch(events: DataFrame, refProps: Array[Double],
                          bucketWidth: Double = 10.0,
                          windowDuration: String = "1 hour",
                          psiThreshold: Double = 0.2): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val nBuckets = refProps.length
    events
      // parquet files written without tz info surface as TIMESTAMP_NTZ; the
      // streaming path forces TimestampType via eventSchema — align the twin
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_type"),
        window(col("ts"), windowDuration).getField("start").as("window_start"),
        least(greatest(floor(col("value") / bucketWidth), lit(0)), lit(nBuckets - 1))
          .cast("int").as("bucket"))
      .groupBy($"event_type", $"window_start", $"bucket").count()
      .groupBy($"event_type", $"window_start")
      .agg(collect_list(struct($"bucket".as("_1"), $"count".as("_2"))).as("hist"))
      .select($"event_type".as("_1"), $"window_start".as("_2"), $"hist".as("_3"))
      .as[(String, java.sql.Timestamp, Seq[(Int, Long)])]
      .map { case (et, ws, hist) =>
        val counts = new Array[Long](nBuckets)
        hist.foreach { case (b, c) => counts(b) += c }
        val n = counts.sum
        val props = if (n == 0) Array.fill(nBuckets)(0.0) else counts.map(_.toDouble / n)
        val psi = graft.stats.StatMath.psi(refProps, props)
        StreamDriftVerdict(et, ws, n, psi, psi > psiThreshold, is_final = true)
      }
      .toDF()
  }

  /** Drive [[driftPerWindow]] over a parquet path as a file stream, then
    * advance the watermark with a far-future sentinel event so every window
    * times out and emits its FINAL verdict. Returns the final verdicts. */
  def runDriftStream(spark: SparkSession, parquetPath: String, refProps: Array[Double],
                     bucketWidth: Double = 10.0, windowDuration: String = "1 hour",
                     queryName: String = "stream_drift"): DataFrame = {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-drift")
    val p = java.nio.file.Paths.get(parquetPath)
    if (java.nio.file.Files.isDirectory(p)) {
      // Files.list must be closed (it holds the directory handle open)
      val ls = java.nio.file.Files.list(p)
      try ls.filter(_.toString.endsWith(".parquet"))
        .forEach(f => java.nio.file.Files.copy(f, srcDir.resolve(f.getFileName)))
      finally ls.close()
    } else java.nio.file.Files.copy(p, srcDir.resolve(p.getFileName))

    val src = spark.readStream.schema(eventSchema).parquet(srcDir.toString)
    val q = driftPerWindow(src, refProps, bucketWidth, windowDuration)
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    // sentinel batch: one event 10 years ahead — pushes the event-time
    // watermark past every real window's timeout, closing all state
    val maxTs = spark.read.parquet(srcDir.toString)
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 315360000000L)
    Seq((Long.MaxValue, sentinel, 0L, "___sentinel", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(srcDir.toString)
    q.processAllAvailable()
    q.stop()
    // the memory sink holds the rows; the staged input copy (a full
    // duplicate of the source parquet) can go now rather than accumulate
    // one temp dir per invocation in a long-lived JVM
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    spark.table(queryName)
      .filter(col("is_final") && col("event_type") =!= "___sentinel")
  }

  // ---- streaming latent drift (the P30 composition, continuous) ----

  /** Keyed latent bucket row; `ts` carries the watermark tag through the
    * projection (same contract as [[BucketEvent]]). */
  case class LatentBucketRow(ts: java.sql.Timestamp,
                             window_start: java.sql.Timestamp,
                             window_ms: Long, dim: Int, bucket: Int)
  /** Custom state: one flat (outDim × buckets) count matrix per window. */
  case class LatentHist(counts: Array[Long])
  /** Per-(window, latent-dim) verdict — the streaming analog of
    * [[LatentDrift.psiPerDimLatent]]'s output rows. */
  case class LatentWindowVerdict(window_start: java.sql.Timestamp, dim: Int,
                                 n: Long, psi: Double, is_drift: Boolean,
                                 is_final: Boolean)

  /** Streaming twin of latent-space drift (P30): per event-time window,
    * per-dim Laplace-smoothed PSI of the window's latent distribution
    * against a STATIC reference count matrix (computed once from the
    * reference window via [[LatentDrift.binCounts]] — outDim × buckets
    * longs, so the broadcast state is bytes regardless of reference size).
    * Rows must already carry the projected latent (`DimRed.projectCol` is
    * a stateless narrow map that composes upstream, on a stream or a
    * table). State per window is the same bounded matrix; binning and PSI
    * math are shared with the batch operator ([[LatentDrift.bucketCol]],
    * [[LatentDrift.psiFromCounts]]), so final streaming verdicts are
    * BIT-IDENTICAL to the batch scores — spec-asserted, and the driver
    * query shares the batch oracle. */
  def latentDriftPerWindow(rows: DataFrame, latentCol: String,
                           refCounts: Array[Array[Long]],
                           edges: Seq[Double] = LatentDrift.DefaultEdges,
                           threshold: Double = 0.2,
                           windowDuration: String = "1 hour",
                           watermarkDelay: String = "2 hours"): Dataset[LatentWindowVerdict] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val outDim = refCounts.length
    require(outDim > 0, "latentDriftPerWindow: refCounts must be non-empty")
    val nb = edges.length + 1
    require(refCounts.forall(_.length == nb),
      s"latentDriftPerWindow: refCounts rows must have ${nb} buckets (edges + 1)")
    require(threshold > 0, s"latentDriftPerWindow: threshold must be > 0, got $threshold")
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
    val delayMillis = iv.days.toLong * 86400000L + iv.microseconds / 1000L

    val keyed = rows
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        window(col("ts"), windowDuration).getField("start").as("window_start"),
        (unix_millis(window(col("ts"), windowDuration).getField("end")) + delayMillis)
          .as("window_ms"),
        posexplode(col(latentCol)).as(Seq("dim", "v")))
      .select(col("ts"), col("window_start"), col("window_ms"), col("dim"),
        LatentDrift.bucketCol(col("v"), edges).as("bucket"))
      .as[LatentBucketRow]

    psiPerWindowStateful(keyed, refCounts, nb, threshold, "latentDriftPerWindow")
  }

  /** The shared stateful per-window bucket-count PSI runner behind
    * [[latentDriftPerWindow]] and [[tokenDriftPerWindow]]: state per
    * window is one flat (outDim × nb) long matrix; finals fire on
    * event-time timeout after the watermark passes the window end. */
  private def psiPerWindowStateful(keyed: Dataset[LatentBucketRow],
                                   refCounts: Array[Array[Long]], nb: Int,
                                   threshold: Double,
                                   opName: String): Dataset[LatentWindowVerdict] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val outDim = refCounts.length

    def verdicts(ws: java.sql.Timestamp, h: LatentHist,
                 isFinal: Boolean): List[LatentWindowVerdict] =
      (0 until outDim).map { d =>
        val cur = java.util.Arrays.copyOfRange(h.counts, d * nb, (d + 1) * nb)
        val psi = LatentDrift.psiFromCounts(refCounts(d), cur)
        LatentWindowVerdict(ws, d, cur.sum, psi, psi > threshold, isFinal)
      }.toList

    keyed
      .groupByKey(_.window_start)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (ws: java.sql.Timestamp, it: Iterator[LatentBucketRow], state: GroupState[LatentHist]) =>
          if (state.hasTimedOut) {
            val out = verdicts(ws, state.get, isFinal = true)
            state.remove()
            out.iterator
          } else {
            val h = state.getOption.getOrElse(LatentHist(new Array[Long](outDim * nb)))
            var timeoutAt = 0L
            it.foreach { r =>
              require(r.dim < outDim,
                s"$opName: dim ${r.dim} exceeds reference outDim $outDim")
              h.counts(r.dim * nb + r.bucket) += 1L
              timeoutAt = r.window_ms
            }
            state.update(h)
            state.setTimeoutTimestamp(math.max(timeoutAt,
              state.getCurrentWatermarkMs() + 1))
            verdicts(ws, h, isFinal = false).iterator
          }
      }
  }

  /** Streaming twin of token-distribution drift (E23): per event-time
    * window, Laplace-smoothed PSI of the window's token mass over a
    * STATIC reference vocabulary (rank 1..topN + OOV bucket 0) against
    * the reference's own bucket counts. The vocabulary rides a
    * stream-static broadcast join (≤ topN rows); state per window is one
    * (topN+1)-long count vector. PSI math is [[LatentDrift.psiFromCounts]]
    * — shared with the batch [[Vocab.tokenDrift]], so final streaming
    * verdicts are bit-identical to batch scores on the same window.
    * `vocab` must be (token, rank) with ranks 1..topN (from
    * [[Vocab.build]]); `refCounts` is the (topN+1)-vector from
    * [[Vocab.bucketCountVector]]. */
  def tokenDriftPerWindow(rows: DataFrame, textCol: String,
                          vocab: DataFrame, refCounts: Array[Long],
                          threshold: Double = 0.2,
                          windowDuration: String = "1 hour",
                          watermarkDelay: String = "2 hours"): Dataset[LatentWindowVerdict] = {
    val spark = rows.sparkSession
    import spark.implicits._
    require(refCounts.nonEmpty, "tokenDriftPerWindow: refCounts must be non-empty")
    val nb = refCounts.length
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
    val delayMillis = iv.days.toLong * 86400000L + iv.microseconds / 1000L

    val keyed = rows
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        window(col("ts"), windowDuration).getField("start").as("window_start"),
        (unix_millis(window(col("ts"), windowDuration).getField("end")) + delayMillis)
          .as("window_ms"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab.select(col("token"), col("rank"))), Seq("token"), "left")
      .select(col("ts"), col("window_start"), col("window_ms"),
        lit(0).as("dim"),
        coalesce(col("rank"), lit(0)).cast("int").as("bucket"))
      .as[LatentBucketRow]

    psiPerWindowStateful(keyed, Array(refCounts), nb, threshold,
      "tokenDriftPerWindow")
  }

  /** File-staged harness for [[tokenDriftPerWindow]] (same shape as
    * [[runLatentDriftStream]]): streams (ts, text) parquet files one per
    * micro-batch, appends a far-future sentinel row to push the watermark
    * past every real window, and returns only the FINAL verdicts. */
  def runTokenDriftStream(spark: SparkSession, parquetPath: String,
                          vocab: DataFrame, refCounts: Array[Long],
                          threshold: Double = 0.2,
                          windowDuration: String = "1 hour",
                          queryName: String = "stream_token_drift"): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-tokens")
    val p = java.nio.file.Paths.get(parquetPath)
    val ls = java.nio.file.Files.list(p)
    try ls.filter(_.toString.endsWith(".parquet"))
      .forEach(f => java.nio.file.Files.copy(f, srcDir.resolve(f.getFileName)))
    finally ls.close()

    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = tokenDriftPerWindow(src, "text", vocab, refCounts, threshold,
      windowDuration)
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    val maxTs = spark.read.parquet(srcDir.toString)
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    require(maxTs != null,
      s"runTokenDriftStream: no rows with a timestamp under $parquetPath")
    // sentinel: one token, far enough ahead to time out every real window
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 315360000000L)
    Seq((sentinel, "sentinel")).toDF("ts", "text")
      .write.mode("append").parquet(srcDir.toString)
    q.processAllAvailable()
    q.stop()
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    val res = spark.table(queryName).filter(col("is_final") &&
      col("window_start") < lit(new java.sql.Timestamp(maxTs.getTime + 157680000000L)))
    val rows = res.collect()
    val outSchema = res.schema
    spark.catalog.dropTempView(queryName)
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), outSchema)
  }

  /** Drive [[latentDriftPerWindow]] over a parquet path of (ts, latent)
    * rows as a file stream (one file per micro-batch), then advance the
    * watermark with a far-future empty-latent sentinel (it explodes to
    * zero bucket rows but still moves event time) so every window times
    * out and emits its FINAL per-dim verdicts. Returns the finals. */
  def runLatentDriftStream(spark: SparkSession, parquetPath: String,
                           refCounts: Array[Array[Long]],
                           edges: Seq[Double] = LatentDrift.DefaultEdges,
                           threshold: Double = 0.2,
                           windowDuration: String = "1 hour",
                           queryName: String = "stream_latent_drift"): DataFrame = {
    import spark.implicits._
    val latentSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("latent", ArrayType(DoubleType))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-latent")
    val p = java.nio.file.Paths.get(parquetPath)
    val ls = java.nio.file.Files.list(p)
    try ls.filter(_.toString.endsWith(".parquet"))
      .forEach(f => java.nio.file.Files.copy(f, srcDir.resolve(f.getFileName)))
    finally ls.close()

    val src = spark.readStream.schema(latentSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = latentDriftPerWindow(src, "latent", refCounts, edges, threshold,
      windowDuration)
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    val maxTs = spark.read.parquet(srcDir.toString)
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    require(maxTs != null,
      s"runLatentDriftStream: no rows with a timestamp under $parquetPath")
    // the sentinel must occupy a GROUP of its own (a 1-dim latent row):
    // an empty latent would advance event time but leave the sentinel
    // batch stateless, and the timeout batch it must provoke never runs
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 315360000000L)
    Seq((sentinel, Seq(0.0))).toDF("ts", "latent")
      .write.mode("append").parquet(srcDir.toString)
    q.processAllAvailable()
    q.stop()
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    // materialize the O(windows × dims) finals and DROP the memory-sink
    // table: each invocation uses a fresh queryName, and a never-dropped
    // update-mode sink would pin every interim row for the session's
    // lifetime. Sentinel's own window excluded (≥ 5 years past the data).
    val res = spark.table(queryName).filter(col("is_final") &&
      col("window_start") < lit(new java.sql.Timestamp(maxTs.getTime + 157680000000L)))
    val rows = res.collect()
    val schema = res.schema
    spark.catalog.dropTempView(queryName)
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Streaming EXACT DEDUP: `dropDuplicates(event_id)` maintains a keyed
    * state store so a record arriving again — in the same OR a later
    * micro-batch — is emitted exactly once; the deduped stream then feeds
    * the per-type aggregate. The harness stages the source file TWICE, so
    * every event genuinely arrives twice across micro-batches and the
    * cross-batch state is what makes the counts come out right (the driver
    * oracle is the single-copy batch aggregate).
    *
    * State note: plain `dropDuplicates` keeps every seen key forever —
    * right for the complete-mode test harness; a production deployment
    * bounds state with `dropDuplicatesWithinWatermark` (same plan shape,
    * keys evicted once the watermark passes) and append output. */
  def runDedupStream(spark: SparkSession, parquetPath: String,
                     queryName: String = "stream_dedup"): DataFrame = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    val p = java.nio.file.Paths.get(parquetPath)
    def stageCopy(suffix: String): Unit =
      if (java.nio.file.Files.isDirectory(p)) {
        val ls = java.nio.file.Files.list(p)
        try ls.filter(_.toString.endsWith(".parquet"))
          .forEach(f => java.nio.file.Files.copy(f,
            srcDir.resolve(s"$suffix-${f.getFileName}")))
        finally ls.close()
      } else java.nio.file.Files.copy(p, srcDir.resolve(s"$suffix-${p.getFileName}"))
    stageCopy("dup0")
    stageCopy("dup1") // full duplicate of the corpus -> 2x arrival of every event
    val src = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1") // force the copies into SEPARATE micro-batches
      .parquet(srcDir.toString)
    val q = src
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    spark.table(queryName)
  }

  /** Stage a parquet input as TIME-ORDERED slice files for a file-stream
    * harness: strictly increasing pinned mod-times fix the processing
    * order, each slice lands `copies` times in adjacent positions, and
    * the returned watermark delay spans 3 slices (nothing is ever late;
    * state older than 3 slices genuinely evicts). Returns (staging dir,
    * delay, max event ts, next mod-time index — use with
    * [[appendStagedFile]] for sentinels). */
  private def stageTimeSlices(spark: SparkSession, parquetPath: String,
                              slices: Int, copies: Int)
      : (java.nio.file.Path, String, java.sql.Timestamp, Int) = {
    import spark.implicits._
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft-stream-staged")
    val batch = spark.read.parquet(parquetPath)
      .withColumn("ts", col("ts").cast("timestamp"))
    val (minTs, maxTs) = batch.agg(min($"ts"), max($"ts"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].head()
    val sliceMs = math.max((maxTs.getTime - minTs.getTime) / slices + 1, 1000L)
    val delay = s"${3 * (sliceMs / 1000 + 1)} seconds"
    var fileIdx = 0
    (0 until slices).foreach { i =>
      val lo = minTs.getTime + i * sliceMs
      val slice = batch.filter(
        unix_millis($"ts") >= lo && unix_millis($"ts") < lo + sliceMs)
      fileIdx = appendStagedFile(slice, srcDir,
        (0 until copies).map(c => f"s$i%03d-$c"), fileIdx)
    }
    (srcDir, delay, maxTs, fileIdx)
  }

  /** Write `df` as ONE parquet file, then land it under each `stem` with
    * consecutive pinned mod-times (the Spark write runs once; extra
    * arrivals are cheap Files.copy duplicates). Returns the next index. */
  private def appendStagedFile(df: DataFrame, srcDir: java.nio.file.Path,
                               stems: Seq[String], fileIdx: Int): Int = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-slice")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = Files.list(tmp)
    val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    var idx = fileIdx
    stems.foreach { stem =>
      val dst = srcDir.resolve(s"$stem.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + idx * 60000L))
      idx += 1
    }
    try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
    catch { case _: Throwable => }
    idx
  }

  /** Streaming exact dedup with BOUNDED state — the production variant
    * [[runDedupStream]]'s scaladoc promises: `dropDuplicatesWithinWatermark`
    * evicts a key's state once the event-time watermark passes its
    * timestamp + delay, so an unbounded stream holds only the open
    * watermark window's keys (plain `dropDuplicates` retains every key
    * forever).
    *
    * Harness: the input is re-staged as TIME-ORDERED slices (modification
    * times force file-stream order; `maxFilesPerTrigger=1` makes each file
    * its own micro-batch), each slice fed TWICE in adjacent micro-batches.
    * The watermark delay spans 3 slices, so (a) a duplicate always arrives
    * while its key is still in state → suppressed, (b) no first arrival is
    * ever late → nothing is wrongly dropped, and (c) keys 3+ slices old
    * are genuinely EVICTED as the stream progresses — bounded state is
    * exercised, not just configured. The deduped append stream then rolls
    * up per event_type; equality with the single-copy batch aggregate is
    * the oracle. */
  def runDedupStreamBounded(spark: SparkSession, parquetPath: String,
                            queryName: String = "stream_dedup_wm",
                            slices: Int = 6): DataFrame = {
    val (srcDir, delay, _, _) =
      stageTimeSlices(spark, parquetPath, slices, copies = 2)
    val src = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    val q = src
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    try { import scala.sys.process._; Seq("rm", "-rf", srcDir.toString).! }
    catch { case _: Throwable => }
    spark.table(queryName)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
  }

  // ---- streaming NEAR-DUP dedup (MinHash+LSH over micro-batches) ----

  /** Layout guard sidecar for the streaming near-dup index: LSH params must
    * match across appends or band hashes from different batches would be
    * incomparable (silently zero cross-batch recall). Lives INSIDE the
    * posting dir (underscore child — invisible to parquet reads and to the
    * hasData check, carried by compaction, same convention as the LSH
    * index's `_graft_lsh_meta`); a sibling-level name would be shared —
    * and corrupted — across two stores under one parent. */
  private def nddMetaPath(postingDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(postingDir).resolve("_ndd_meta")

  private def nddCheckOrWriteMeta(spark: SparkSession, postingDir: String,
                                  numHashes: Int, bands: Int, shingleN: Int,
                                  indexParts: Int, scoped: Boolean): Unit = {
    import spark.implicits._
    val mp = nddMetaPath(postingDir)
    if (java.nio.file.Files.exists(mp)) {
      val m = spark.read.parquet(mp.toString)
        .select("num_hashes", "bands", "shingle_n", "index_parts", "scoped")
        .head()
      require(m.getInt(0) == numHashes && m.getInt(1) == bands &&
        m.getInt(2) == shingleN && m.getInt(3) == indexParts,
        s"streaming near-dup index at $postingDir was built with " +
          s"(numHashes=${m.getInt(0)}, bands=${m.getInt(1)}, " +
          s"shingleN=${m.getInt(2)}, indexParts=${m.getInt(3)}) — append " +
          s"requested ($numHashes, $bands, $shingleN, $indexParts); band " +
          "hashes would be incomparable across batches")
      require(m.getBoolean(4) == scoped,
        s"streaming near-dup index at $postingDir was built " +
          (if (m.getBoolean(4)) "batch-SCOPED (batch=<id> subtrees)"
           else "UNSCOPED (flat appends)") +
          " — mixing write modes in one store would break partition " +
          "discovery; use a consistent batchId convention")
    } else
      Seq((numHashes, bands, shingleN, indexParts, scoped))
        .toDF("num_hashes", "bands", "shingle_n", "index_parts", "scoped")
        .coalesce(1).write.mode("overwrite").parquet(mp.toString)
  }

  /** Ids (from `batchPosting`'s `id` column) of batch docs that are verified
    * near-dups of an EARLIER doc — earlier within the batch (smaller id) or
    * any doc in the persisted index (arrived in a previous micro-batch).
    *
    * Scale shape: the index NEVER shuffles — the (band, bh) candidate join
    * BROADCASTS the micro-batch side, so per-batch SHUFFLE work is
    * O(batch + collisions). Scan I/O splits by store width: the posting
    * store (narrow ~16 B rows) is read within the batch's probed pb set
    * (partitionBy(pb = bh mod indexParts) → literal partition filter; a
    * large batch probes all residues, so this is a full — but columnar,
    * shuffle-free, embarrassingly parallel — scan of the cheap store),
    * while the WIDE shingle store is only read for verify candidates,
    * pruned to their sp = xxhash64(id) mod indexParts partitions — in the
    * normal regime (band collisions rare) a small fraction of the store.
    * Measured: BASELINE.md §Round-4 streaming near-dup volume probe. */
  private[ops] def nearDupDroppedIds(spark: SparkSession,
      batchSh: DataFrame,      // (id, sh) — empty-shingle rows pre-filtered
      batchPosting: DataFrame, // (id, band, bh, pb)
      postingDir: String, shingleDir: String,
      threshold: Double, indexParts: Int, batchId: Long): DataFrame = {
    // batch-scoped stores: "earlier" is explicit — only strictly-smaller
    // batch subtrees count, so a RETRY of this batchId never sees its own
    // first attempt's postings (which would self-match every doc)
    def earlierOnly(df: DataFrame): DataFrame =
      if (batchId >= 0) df.filter(col("batch") < batchId) else df
    val within = batchPosting.as("a").join(batchPosting.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // "exists" = has at least one data child: expiry can leave a dir
    // empty, and an empty-path parquet read fails schema inference
    def hasData(dir: String): Boolean = {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.isDirectory(p) && {
        val ls = java.nio.file.Files.list(p)
        try ls.anyMatch { c =>
          val n = c.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        } finally ls.close()
      }
    }
    val indexExists = hasData(postingDir)
    // candIds is persisted: it feeds the candSp collect, the two semi-filter
    // broadcasts, and the verify join — without the persist, each consumer
    // would re-run the index scan + self-join. Bounded by O(batch
    // collisions); released below once `dropped` is materialized.
    val candIds = (if (!indexExists) within else {
      // probed partitions of the posting layout: ≤ indexParts values
      val probedPb = batchPosting.select(col("pb")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val idxPost = earlierOnly(spark.read.parquet(postingDir))
        .filter(col("pb").isInCollection(probedPb)) // partition pruning
      val cross = idxPost.as("i")
        .join(broadcast(batchPosting.as("q")),
          col("i.band") === col("q.band") && col("i.bh") === col("q.bh"))
        .select(col("i.id").as("id_a"), col("q.id").as("id_b"))
      within.union(cross)
    }).dropDuplicates("id_a", "id_b").persist()
    // exact-Jaccard verify: later side's shingles are in the batch; earlier
    // side's come from the batch or the persisted shingle store — pruned to
    // the candidate ids' sp PARTITIONS, then semi-filtered to the candidate
    // ids themselves via a broadcast (bare longs, O(collisions)) so the
    // wide shingle rows entering the join are O(candidates), never O(index).
    // Without the semi-filter the verify join shuffles the whole store per
    // batch (probe-measured: shuffle grew linearly with index size).
    val earlierIds = broadcast(candIds.select(col("id_a").as("id")).distinct())
    val earlierSh =
      if (!indexExists) batchSh.join(earlierIds, Seq("id"), "left_semi")
      else {
        val candSp = candIds
          .select(pmod(xxhash64(col("id_a")), lit(indexParts.toLong)).as("sp"))
          .distinct().collect().map(_.getLong(0)).toSeq
        // hasData guard: a crash between the posting and shingle writes of
        // the FIRST batch leaves postings but no shingle store; on the
        // redelivery all candidates are within-batch (the posting read is
        // batch-filtered / empty-earlier), so batch shingles alone are
        // correct — without the guard every retry dies on schema inference
        // and the stream wedges. Shingles are written LAST, so any batch
        // the posting read CAN return has its shingles present.
        val idxSh =
          if (candSp.isEmpty || !hasData(shingleDir))
            batchSh.filter(lit(false)) // no candidates -> empty earlier side
          else earlierOnly(spark.read.parquet(shingleDir))
            .filter(col("sp").isInCollection(candSp)) // partition pruning
            .select(col("id"), col("sh"))
        batchSh.unionByName(idxSh).join(earlierIds, Seq("id"), "left_semi")
      }
    val laterSh = batchSh // symmetric semi-filter: O(candidates) wide rows
      .join(broadcast(candIds.select(col("id_b").as("id")).distinct()),
        Seq("id"), "left_semi")
    val dropped = broadcast(candIds)
      .join(earlierSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(laterSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", Dedup.jaccardFromShingles(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as("id")).distinct()
      .persist()
    dropped.count() // materialize now so the candidate persist can release
    candIds.unpersist()
    dropped         // caller unpersists after the survivor write
  }

  /** One micro-batch transaction of STREAMING NEAR-DUP DEDUP: drop every
    * batch doc that is a verified near-duplicate (exact shingle-Jaccard ≥
    * `threshold`) of ANY earlier-arriving doc — earlier micro-batches via
    * the persisted index, earlier rows of the same batch via a within-batch
    * band self-join (ties inside a micro-batch break by ascending id, the
    * same `id_a < id_b` convention as [[Dedup.minhashLshPairs]]).
    *
    * Semantics are deliberately NON-RECURSIVE ("near-dup of anything seen",
    * kept or dropped): the survivor set is then independent of micro-batch
    * boundaries (spec-asserted) and expressible as one SQL predicate —
    * which is what makes the streaming operator DuckDB-oracle-able.
    *
    * State lives in STORAGE, not executor memory: survivors append to
    * `survivorsDir`, and every batch doc's band postings and shingle set
    * append to the partitioned index (`postingDir` partitionBy(pb),
    * `shingleDir` partitionBy(sp)) — the streaming twin of
    * [[graft.ops.Similarity.lshIndexAppend]]'s grow-in-place layout. A
    * deployment bounds history by date-partitioning the index and dropping
    * expired partitions (recency-bounded near-dedup).
    *
    * EXACTLY-ONCE: pass the foreachBatch `batchId` and every write becomes
    * a batch-scoped OVERWRITE (`<dir>/batch=<id>/…` subtrees, readable as
    * one partitioned layout), so redelivery of a failed micro-batch — the
    * at-least-once gap foreachBatch leaves open — converges to the same
    * bytes instead of appending duplicates; cross-batch probes read only
    * `batch < batchId`, so a retry never matches its own first attempt.
    * `batchId = -1` (default) keeps flat append writes for ad-hoc batch
    * use. One store is one mode — guarded by the config sidecar. */
  def nearDupDedupBatch(batch: DataFrame, idCol: String, textCol: String,
                        postingDir: String, shingleDir: String,
                        survivorsDir: String, threshold: Double = 0.5,
                        numHashes: Int = 32, bands: Int = 8,
                        shingleN: Int = 3, indexParts: Int = 64,
                        batchId: Long = -1L): Unit = {
    require(numHashes % bands == 0)
    val spark = batch.sparkSession
    val scoped = batchId >= 0
    nddCheckOrWriteMeta(spark, postingDir, numHashes, bands, shingleN,
      indexParts, scoped)
    val base = batch.select(col(idCol).as("id"), col(textCol).as("t"))
    val batchSh = base
      .select(col("id"), TextOps.shingles(col("t"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val batchPosting = batchSh
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .select(col("id"),
        posexplode(Dedup.lshBandKeys(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "bh")))
      .withColumn("pb", pmod(col("bh"), lit(indexParts.toLong)))
      .persist()
    var dropped: DataFrame = null
    try {
      dropped = nearDupDroppedIds(spark, batchSh, batchPosting,
        postingDir, shingleDir, threshold, indexParts, batchId)
      // survivors first (reads the PRE-batch index), then the index writes
      val survivors = batch.join(
        broadcast(dropped.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti")
      val batchShSp = batchSh
        .withColumn("sp", pmod(xxhash64(col("id")), lit(indexParts.toLong)))
      if (scoped) { // idempotent: a retry overwrites its own subtrees
        survivors.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
        batchPosting.write.mode("overwrite").partitionBy("pb")
          .parquet(s"$postingDir/batch=$batchId")
        batchShSp.write.mode("overwrite").partitionBy("sp")
          .parquet(s"$shingleDir/batch=$batchId")
      } else {
        survivors.write.mode("append").parquet(survivorsDir)
        batchPosting.write.mode("append").partitionBy("pb").parquet(postingDir)
        batchShSp.write.mode("append").partitionBy("sp").parquet(shingleDir)
      }
    } finally {
      if (dropped != null) dropped.unpersist()
      batchSh.unpersist()
      batchPosting.unpersist()
    }
  }

  /** Drive [[nearDupDedupBatch]] over a corpus staged as an id-ordered file
    * stream (`slices` files, mod-times pinning processing order,
    * `maxFilesPerTrigger=1` → one micro-batch per slice), via
    * `foreachBatch`. Returns the surviving docs.
    *
    * The id-ordered staging makes arrival order = id order, so the kept set
    * is exactly {X : no Y with smaller id has Jaccard(X, Y) ≥ threshold} —
    * the DuckDB-oracle predicate. `tag` isolates scratch dirs between
    * harness invocations in one process (stale sibling dirs of dead
    * processes are cleaned like every other scratch path). */
  def runNearDupDedupStream(spark: SparkSession, corpus: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double = 0.5, numHashes: Int = 32,
                            bands: Int = 8, shingleN: Int = 3,
                            slices: Int = 4, indexParts: Int = 64,
                            tag: String = "run"): DataFrame = {
    import java.nio.file.{Files, Paths}
    graft.util.PidPaths.cleanStaleSiblings("graft_ndd")
    val root = graft.util.PidPaths.path(s"graft_ndd") + s"/$tag"
    try { import scala.sys.process._; Seq("rm", "-rf", root).! }
    catch { case _: Throwable => }
    Files.createDirectories(Paths.get(root))
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    // harness-only global sort: slice the corpus into id-ordered files
    // (test scale; a deployment's landing zone arrives pre-ordered by time)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
    val n = corpus.count()
    val sliced = corpus
      .withColumn("__slice",
        (((row_number().over(w) - 1).cast("long") * slices) / n).cast("int"))
      .persist() // one single-partition sort, not one per slice filter
    try (0 until slices).foreach { i =>
      val tmp = Files.createTempDirectory("graft-ndd-slice")
      sliced.filter(col("__slice") === i).drop("__slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      val dst = Paths.get(srcDir, f"s$i%03d.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
      catch { case _: Throwable => }
    } finally sliced.unpersist()
    val postingDir = s"$root/posting"
    val shingleDir = s"$root/shingles"
    val survivorsDir = s"$root/survivors"
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        // real batchId → batch-scoped idempotent writes (retry-safe)
        nearDupDedupBatch(b, idCol, textCol, postingDir, shingleDir,
          survivorsDir, threshold, numHashes, bands, shingleN, indexParts,
          batchId = bid)
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(survivorsDir).drop("batch") // scoped-layout partition col
  }

  /** Streaming decontamination — the per-micro-batch twin of
    * [[Decontaminate.dropContaminated]]: every arriving batch is gated
    * against a STATIC eval set. The eval shingle union is resolved ONCE
    * before the stream starts ([[Decontaminate.prepareBench]] — collected
    * and broadcast when small, never re-evaluated per batch); the gate is
    * per-row against that fixed set, so the survivor set is
    * micro-batch-boundary INVARIANT by construction and equals the batch
    * operator over the full corpus (spec: slices 1 ≡ 4 ≡ batch; the
    * driver query shares `decontaminate_drop`'s oracle predicate).
    *
    * Survivors write as batch-scoped overwrite subtrees (`batch=<id>` —
    * the P21 exactly-once layout), so a redelivered micro-batch converges
    * instead of appending duplicates. */
  def runDecontaminateStream(spark: SparkSession, corpus: DataFrame,
                             idCol: String, textCol: String,
                             bench: DataFrame, benchTextCol: String,
                             shingleN: Int = 3, minHits: Int = 1,
                             slices: Int = 3, tag: String = "run"): DataFrame = {
    val benchSide = Decontaminate.prepareBench(bench, benchTextCol, shingleN)
    runGatedDocStream(spark, corpus, idCol, slices, tag,
      b => Decontaminate.dropAgainst(b, idCol, textCol, benchSide, shingleN, minHits))
  }

  /** Streaming twin of the BLOOM decontamination rung: the eval side is a
    * fixed-byte blob resolved once before the stream starts
    * ([[Decontaminate.prepareBenchBloom]]), and the per-batch gate is a
    * pure per-row scalar ([[Decontaminate.dropByBloom]] — zero exchanges
    * per micro-batch, nothing broadcast, nothing joined). Survivors are
    * micro-batch-boundary invariant for the same per-row-gate reason as
    * the exact twin, and flagged ⊇ exact-flagged carries over batchwise. */
  def runDecontaminateStreamBloom(spark: SparkSession, corpus: DataFrame,
                                  idCol: String, textCol: String,
                                  filterBlob: Array[Byte],
                                  shingleN: Int = 3, minHits: Int = 1,
                                  slices: Int = 3, tag: String = "run"): DataFrame =
    runGatedDocStream(spark, corpus, idCol, slices, tag,
      b => Decontaminate.dropByBloom(b, idCol, textCol, filterBlob, shingleN, minHits))

  /** Streaming twin of the P38 perplexity gate: the model tables are
    * trained/persisted ONCE on the static reference corpus before the
    * stream starts, and each micro-batch is gated by
    * [[LangModel.gateByPerplexity]] against them — scoring is per-doc
    * (model joins are batch-local, broadcast under `maxBroadcastRows`),
    * so survivors are micro-batch-boundary invariant like the
    * decontamination twins. The production shape for filtering an
    * arriving crawl against a frozen reference LM. */
  def runLmGateStream(spark: SparkSession, corpus: DataFrame, idCol: String,
                      textCol: String, lm: LangModel.BigramLm,
                      maxPpl: Double, slices: Int = 3,
                      tag: String = "run"): DataFrame =
    runGatedDocStream(spark, corpus, idCol, slices, tag,
      b => LangModel.gateByPerplexity(b, idCol, textCol, lm, maxPpl))

  /** Shared harness for per-row doc gates run as a file stream: hash-split
    * the corpus into `slices` micro-batches (the gates are order-free, so
    * no global sort is needed — unlike the arrival-ordered P21 harness),
    * drop per batch via `gate`, write survivors as batch-scoped overwrite
    * subtrees (the exactly-once layout), read the union back. */
  private def runGatedDocStream(spark: SparkSession, corpus: DataFrame,
                                idCol: String, slices: Int, tag: String,
                                gate: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    graft.util.PidPaths.cleanStaleSiblings("graft_decon")
    val root = graft.util.PidPaths.path("graft_decon") + s"/$tag"
    try { import scala.sys.process._; Seq("rm", "-rf", root).! }
    catch { case _: Throwable => }
    Files.createDirectories(Paths.get(root))
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    (0 until slices).foreach { i =>
      val tmp = Files.createTempDirectory("graft-decon-slice")
      corpus.filter(pmod(xxhash64(col(idCol)), lit(slices)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      Files.copy(part, Paths.get(srcDir, f"s$i%03d.parquet"))
      try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
      catch { case _: Throwable => }
    }
    val survivorsDir = s"$root/survivors"
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        gate(b).write.mode("overwrite").parquet(s"$survivorsDir/batch=$bid")
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(survivorsDir).drop("batch")
  }

  /** Run the streaming aggregation over a parquet path as a file stream,
    * draining everything available into an in-memory table; returns the
    * result. (The local harness for tests/demos — a deployment would point
    * readStream at the live landing zone and writeStream at the results
    * table.) */
  // ---- streaming as-of join (custom event-time-buffered state) ----

  /** Keyed as-of input row after side tagging; `ts` carries the watermark
    * tag (same contract as [[BucketEvent]]). */
  case class AsofEvent(ts: java.sql.Timestamp, user_id: Long, side: Int, id: Long)
  /** Per-key as-of buffer: pending left rows and candidate right rows as
    * (id, epochMicros) pairs. */
  case class AsofState(lefts: Seq[(Long, Long)], rights: Seq[(Long, Long)])
  /** One final as-of match (inner semantics — unmatched lefts are dropped
    * when they close, same as the batch operator). */
  case class AsofMatch(user_id: Long, purchase_id: Long, view_id: Long,
                       view_ts: java.sql.Timestamp, gap_us: Long)

  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def microsTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** STREAMING as-of join (the P41 batch operator, continuous): for every
    * left event, the latest right event of the same key with
    * `right.ts <= left.ts`, emitted EXACTLY ONCE as a FINAL answer — a
    * left row closes when the event-time watermark passes its timestamp,
    * because only then can no smaller-or-equal-ts right row still arrive.
    * Out-of-order arrival within the watermark delay is therefore
    * handled exactly, not approximately: the answer equals the batch
    * [[Temporal.asofJoin]] on the closed prefix (spec-asserted over a
    * sliced out-of-order feed).
    *
    * State is BOUNDED: per key, the lefts still open (ts > watermark) and
    * the rights above the watermark plus ONE — every watermark-passed
    * right except the latest is dominated for all future lefts (a future
    * left's ts exceeds the watermark, hence exceeds both; the later right
    * wins) and is dropped at each trigger. Keys with nothing buffered
    * remove their state entirely; keys with no new arrivals still flush
    * via event-time timeout.
    *
    * Ties replay the batch contract: equal-ts rights resolve to the max
    * right id; an equal-ts right matches ("at or before"). */
  def asofPerKey(events: DataFrame, leftType: String, rightType: String,
                 watermarkDelay: String): Dataset[AsofMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin(leftType, rightType) &&
        col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull) // null-id policy: no identity, no match
      .select(col("ts"), col("user_id"),
        when(col("event_type") === leftType, 1).otherwise(0).as("side"),
        col("event_id").as("id"))
      .as[AsofEvent]
    keyed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, Nil))
          var lefts = st.lefts
          var rights = st.rights
          if (!state.hasTimedOut) rows.foreach { e =>
            if (e.side == 1) lefts :+= (e.id -> tsMicros(e.ts))
            else rights :+= (e.id -> tsMicros(e.ts))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // STRICTLY below: Spark's late-row filter drops only ts < wm, so
          // a right with rts == wm can still arrive — a left with
          // lts == wm is not closable yet ("at or before" includes equals)
          val (ready, pending) = lefts.partition(_._2 < wmUs)
          val out = ready.sortBy(identity).flatMap { case (lid, lus) =>
            val cands = rights.filter(_._2 <= lus)
            if (cands.isEmpty) None
            else {
              val best = cands.maxBy { case (rid, rus) => (rus, rid) }
              Some(AsofMatch(user, lid, best._1, microsTs(best._2), lus - best._2))
            }
          }
          // rights at/below the watermark: all dominated for future lefts
          // except the single latest — drop the rest, state stays bounded
          val (closedR, openR) = rights.partition(_._2 <= wmUs)
          val keepR = (if (closedR.isEmpty) Nil
                       else Seq(closedR.maxBy { case (rid, rus) => (rus, rid) })) ++ openR
          if (pending.isEmpty && keepR.isEmpty) state.remove()
          else {
            state.update(AsofState(pending, keepR))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          }
          out.iterator
      }
  }

  /** Drive [[asofPerKey]] over a time-ordered sliced file stream (the
    * [[runDedupStreamBounded]] staging: mod-times pin order,
    * maxFilesPerTrigger=1, watermark delay spans 3 slices so nothing is
    * late while mid-stream closing and right-buffer pruning genuinely
    * happen), then a far-future sentinel closes every open left. */
  def runAsofStream(spark: SparkSession, parquetPath: String,
                    leftType: String, rightType: String,
                    queryName: String = "stream_asof",
                    slices: Int = 6): DataFrame = {
    import spark.implicits._
    val (srcDir, delay, maxTs, fileIdx) =
      stageTimeSlices(spark, parquetPath, slices, copies = 1)
    val src = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    val q = asofPerKey(src, leftType, rightType, delay)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    // The sentinel must SURVIVE the side filter: Catalyst pushes the
    // event_type filter below the EventTimeWatermark node (it does not
    // reference ts), so a row of a filtered-out type would be dropped
    // BEFORE it can advance the watermark and nothing would ever close.
    // A far-future right-side row for fake user -1 passes the filter,
    // advances the watermark, buffers one right for -1 (matches nothing),
    // and is excluded from the returned table.
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 315360000000L)
    appendStagedFile(
      Seq((Long.MaxValue, sentinel, -1L, rightType, 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      srcDir, Seq("zz-sentinel"), fileIdx)
    q.processAllAvailable()
    q.stop()
    try { import scala.sys.process._; Seq("rm", "-rf", srcDir.toString).! }
    catch { case _: Throwable => }
    spark.table(queryName).filter(col("user_id") =!= -1L)
  }

  /** Gap-rule session windows over the stream (E17 × P41): Spark's native
    * `session_window(ts, gap)` IS the gap rule in streaming form —
    * sessions for a key merge in state while events arrive within `gap`,
    * close when the event-time watermark passes the session end, and
    * their state is evicted (bounded memory over an unbounded stream; the
    * batch twin is [[Temporal.sessionStats]]). The boundary agrees with
    * the batch rule: events exactly `gap` apart stay in ONE session (the
    * native window merges touching ranges — spec-pinned on an exact-gap
    * fixture), so the session partition is identical to
    * [[Temporal.sessionize]]'s `diff > gap` split on any input, and the
    * batch lag+cumsum replay oracles this query directly. No per-key
    * session counter exists on a stream (a
    * session's ordinal can change while earlier sessions are still open),
    * so the streaming grain is (user, first_ts), not (user, idx). */
  def sessionAgg(events: DataFrame, gap: String = "6 hours",
                 watermark: String = "12 hours"): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("first_ts"), col("last_ts"),
        timestamp_diff("MICROSECOND", col("first_ts"), col("last_ts"))
          .as("duration_us"))

  /** Drive [[sessionAgg]] over a staged file stream to completion: append
    * mode (a session row is emitted exactly once, when the watermark
    * closes it), sentinel event 10 years ahead to push the watermark past
    * every real session, memory sink. Same harness contract as
    * [[runDriftStream]]. */
  def runSessionStream(spark: SparkSession, parquetPath: String,
                       gap: String = "6 hours",
                       queryName: String = "stream_sessions"): DataFrame = {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-sess")
    val p = java.nio.file.Paths.get(parquetPath)
    if (java.nio.file.Files.isDirectory(p)) {
      val ls = java.nio.file.Files.list(p)
      try ls.filter(_.toString.endsWith(".parquet"))
        .forEach(f => java.nio.file.Files.copy(f, srcDir.resolve(f.getFileName)))
      finally ls.close()
    } else java.nio.file.Files.copy(p, srcDir.resolve(p.getFileName))

    val src = spark.readStream.schema(eventSchema).parquet(srcDir.toString)
    val q = sessionAgg(src, gap)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    val maxTs = spark.read.parquet(srcDir.toString)
      .agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 315360000000L)
    Seq((Long.MaxValue, sentinel, -1L, "___sentinel", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(srcDir.toString)
    q.processAllAvailable()
    q.stop()
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    spark.table(queryName).filter(col("user_id") =!= -1L)
  }

  // ---- streaming ingestion INTO the snapshot catalog (E39) ----

  /** Commit ONE micro-batch as ONE catalog snapshot — the foreachBatch body
    * of [[runCatalogIngestStream]], exposed for synchronous testing. Each
    * batch lands as a fresh part (`maxKnownPart + 1`, so crash-orphan dirs
    * are never reused) through the full commit path: schema-evolution gate
    * (E32) and manifest key stats (E31) apply to streaming ingest exactly
    * as to batch ingest. Idempotent under foreachBatch RE-DELIVERY: the
    * committed batch id is recorded as a `stream-batch-<id>` tag on the
    * snapshot (atomic ref write), and a re-delivered id is skipped; since
    * a restarted stream can only re-run its LATEST batch, older markers
    * are dropped on each commit so they never pin snapshots against
    * expiry. The commit→tag pair is not transactional — a crash exactly
    * between them re-commits one batch on restart (the standard two-phase
    * sink caveat without a transaction log; the catalog is single-writer).
    * Returns the new snapshot id, or None when the batch was already
    * committed. */
  def commitMicroBatch(table: String, batch: DataFrame, batchId: Long,
                       statsKey: Option[String] = Some("doc_id"),
                       allowEvolution: Boolean = false): Option[Long] = {
    import graft.engine.SnapshotCatalog
    val marker = s"stream-batch-$batchId"
    val existing = SnapshotCatalog.tags(table)
    if (existing.contains(marker)) return None
    val part = SnapshotCatalog.maxKnownPart(table) + 1
    val snap = SnapshotCatalog.commit(table,
      batch.withColumn("part", lit(part)),
      appendedParts = Some(Seq(part)), statsKey = statsKey,
      allowEvolution = allowEvolution)
    SnapshotCatalog.tag(table, marker, snap.snapshotId)
    existing.keys.filter(_.startsWith("stream-batch-"))
      .foreach(SnapshotCatalog.dropTag(table, _))
    Some(snap.snapshotId)
  }

  /** Drive a file stream of doc batches into the catalog: the corpus is
    * staged into `slices` files, each arriving as its own micro-batch
    * (maxFilesPerTrigger=1) and committing as its own snapshot via
    * [[commitMicroBatch]] — auto-snapshot-per-batch ingestion, the
    * production bridge between an arriving crawl and the validated,
    * time-travelable table every other engine surface reads. Returns the
    * committed snapshot ids in order. */
  def runCatalogIngestStream(spark: SparkSession, corpus: DataFrame,
                             table: String, slices: Int): Seq[Long] = {
    import java.nio.file.Files
    require(slices >= 1, "runCatalogIngestStream: slices must be >= 1")
    val srcDir = Files.createTempDirectory("graft-ingest-staged")
    val hashed = corpus.withColumn("__slice",
      pmod(xxhash64(col("doc_id"), lit("ingest")), lit(slices.toLong)).cast("int"))
    var fileIdx = 0
    (0 until slices).foreach { i =>
      fileIdx = appendStagedFile(
        hashed.filter(col("__slice") === i).drop("__slice"),
        srcDir, Seq(f"b$i%03d"), fileIdx)
    }
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val src = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitMicroBatch(table, batch, batchId).foreach(ids += _)
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ingest-ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    try {
      import scala.sys.process._
      Seq("rm", "-rf", srcDir.toString).!
    } catch { case _: Throwable => }
    ids.toSeq
  }

  /** Streaming novel-category alarm — the streaming twin of the E33
    * novel_kind check: per event-time window, the event types OUTSIDE the
    * declared reference contract, with their counts. Purely declarative
    * (windowed agg + a literal IN-set filter — no custom state, no join:
    * the contract is a task-constant literal, so the filter inlines into
    * whole-stage codegen and the only exchange is the O(novel types ×
    * windows) slim agg). Existence-graded like the batch check: any row
    * emitted IS the alarm. Null types never read as novel (the null-kind
    * family's jurisdiction). Watermark bounds state in append-mode
    * production; the memory-sink harness runs complete mode. */
  def novelTypesPerWindow(events: DataFrame, refTypes: Seq[String],
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    require(refTypes.nonEmpty, "novelTypesPerWindow: empty reference contract")
    require(refTypes.forall(_ != null),
      "novelTypesPerWindow: null in the reference contract - null types are " +
        "never novel by definition (the null-kind family's jurisdiction)")
    events.withWatermark("ts", watermark)
      .filter(col("event_type").isNotNull &&
        !col("event_type").isin(refTypes: _*))
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("novel_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("novel_events"))
  }

  /** Drive [[novelTypesPerWindow]] over a parquet file stream into a memory
    * sink (harness twin of the production append-mode query). */
  def runNovelTypesStream(spark: SparkSession, parquetPath: String,
                          refTypes: Seq[String],
                          queryName: String = "novel_stream"): DataFrame = {
    val p = java.nio.file.Paths.get(parquetPath)
    val dir =
      if (java.nio.file.Files.isDirectory(p)) parquetPath
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-novel-stream")
        java.nio.file.Files.copy(p, d.resolve(p.getFileName))
        d.toString
      }
    val src = spark.readStream.schema(eventSchema).parquet(dir)
    val q: StreamingQuery = novelTypesPerWindow(src, refTypes)
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    if (dir != parquetPath) try {
      import scala.sys.process._
      Seq("rm", "-rf", dir).!
    } catch { case _: Throwable => }
    spark.table(queryName)
  }

  def runFileStream(spark: SparkSession, parquetPath: String,
                    queryName: String = "stream_out"): DataFrame = {
    // file-stream sources need a DIRECTORY; stage a single-file input
    val p = java.nio.file.Paths.get(parquetPath)
    val dir =
      if (java.nio.file.Files.isDirectory(p)) parquetPath
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-stream")
        java.nio.file.Files.copy(p, d.resolve(p.getFileName))
        d.toString
      }
    val src = spark.readStream.schema(eventSchema).parquet(dir)
    val q: StreamingQuery = hourlyEventCounts(src)
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    if (dir != parquetPath) try { // drop the staged single-file copy
      import scala.sys.process._
      Seq("rm", "-rf", dir).!
    } catch { case _: Throwable => }
    spark.table(queryName)
  }
}
