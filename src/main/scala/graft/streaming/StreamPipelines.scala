package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.9): the same event-time
  * operators the batch registry exposes, over an unbounded source. These
  * builders return streaming DataFrames — callers attach a sink with
  * `.writeStream` (see StreamingSpec for MemoryStream-driven tests and
  * StreamPipelinesSpec for file-source micro-batch runs).
  *
  * Scale notes: every pipeline here is incrementally executable — windowed
  * aggregations keyed by (window, key) with watermark-bounded state, and
  * dedup state that expires at the watermark. Nothing buffers unbounded
  * history.
  */
object StreamPipelines {

  /** The events schema as the file stream source needs it declared. */
  val eventsSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** File-based streaming read of an events directory (parquet files
    * appearing over time = the classic ingestion pattern).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Tumbling 1-hour counts per event type with a 30-minute watermark. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_v"))

  /** Per-user session aggregation (17-minute gap) with watermark. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "17 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"))

  /** Streaming exact dedup on event_id within the watermark horizon. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream event-time join: each purchase matched to the same
    * user's clicks from the preceding `horizon`. Both sides carry
    * watermarks and the join condition bounds event time on both sides, so
    * Spark can expire join state — the required shape for an unbounded
    * stream-stream join (state is O(events within horizon), not O(stream)).
    * Input schemas: clicks(cts TIMESTAMP, cuid BIGINT),
    * purchases(bts TIMESTAMP, buid BIGINT, amount DOUBLE).
    */
  def purchasesWithPriorClick(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("cts", horizon)
    val b = purchases.withWatermark("bts", horizon)
    c.join(b, expr(
      s"cuid = buid AND bts BETWEEN cts AND cts + interval $horizon"))
      .select(col("buid").as("user_id"), col("bts").as("purchase_ts"),
        col("cts").as("click_ts"), col("amount"))
  }

  /** Stream-STATIC enrichment join — the dimension-lookup pattern, and
    * the stateless complement of [[purchasesWithPriorClick]]: each
    * micro-batch joins the static side fresh (broadcast — no streaming
    * state at all, no watermark required), so a reference table of any
    * bounded size enriches an unbounded stream. Input schemas:
    * events(ts TIMESTAMP, user_id BIGINT, event_type STRING),
    * dim(event_type STRING, weight BIGINT).
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .select(col("ts"), col("user_id"), col("event_type"), col("weight"))

  /** Custom sink via foreachBatch — the escape hatch for any external
    * system without a native connector (JDBC upsert, Kafka-less
    * environments, object stores): each micro-batch's COMPLETE-mode
    * running totals atomically replace a parquet snapshot. Replay-safe
    * by idempotence — re-running a batch overwrites with identical
    * content — which is the contract foreachBatch asks the sink author
    * for (Spark guarantees at-least-once batch delivery plus the
    * batchId for dedup; an overwrite snapshot needs neither stored
    * offsets nor a transactional target). Input schema:
    * events(ts TIMESTAMP, user_id BIGINT, event_type STRING).
    */
  def totalsToParquetSink(events: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.groupBy(col("event_type"))
      // exact distinct is unsupported on streams; deterministic sums keep
      // the snapshot assertion exact (approx_count_distinct would not)
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("overwrite").parquet(outDir)
      }
      .start()

  /** Streaming INCREMENTAL NEAR-DEDUP ingest — the streaming twin of the
    * batch dedup_incremental: each micro-batch of incoming documents
    * probes a STATIC index corpus with the same asymmetric prefix-
    * filtered exact-Jaccard join
    * ([[graft.operators.DedupOps.incrementalNearDupsOn]]) and appends
    * its (new_id, matched_id, jaccard, batch_id) match ledger to a
    * parquet directory. foreachBatch because the prefix build needs a
    * per-batch groupBy over the batch's shingles — a bounded,
    * batch-local aggregation, which is exactly what production ingest
    * jobs run; the index side is the write-once artifact
    * ([[graft.operators.DedupOps.cachedPairs]] family), so per-batch
    * cost is bounded by the batch's posting lists and independent of
    * how many batches came before. Batch-id column makes replays
    * detectable downstream (at-least-once contract). Input schema:
    * docs(doc_id BIGINT, lang STRING, source STRING, text STRING).
    */
  def incrementalDedupSink(docs: DataFrame, index: DataFrame, tau: Double,
      outDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Build the index-side tables ONCE, at stream start — they are the
    // write-once artifacts of the contract (DedupOps.dedupIndexTables),
    // not per-batch work: one localCheckpoint each pins them for the
    // stream's lifetime, so per-batch cost is the batch's own shingling
    // + probe and does not grow with index size or accumulate new
    // checkpoint blocks per micro-batch (r10 advice).
    val prebuilt = graft.operators.DedupOps.dedupIndexTables(index, tau)
      .map { case (n, df) => n -> df.localCheckpoint() }.toMap
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the micro-batch executes in a CLONED session whose function
        // registry was snapshotted at stream start — re-register the
        // graft_* codegen expressions there or the merge-scan verify
        // resolves against a registry that never saw them
        graft.functions.NativeExprs.ensureRegistered(batch.sparkSession)
        graft.operators.DedupOps
          .incrementalNearDupsProbe(prebuilt("shingles"), prebuilt("freq"),
            prebuilt("prefix"), batch, tau)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("append").parquet(outDir)
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming INCREMENTAL ANN INGEST — the vector twin of
    * [[incrementalDedupSink]]: the IVF index (Lloyd cells + centroids
    * over the static `index` frame of (vec_id, v: array&lt;double&gt;))
    * is built ONCE at stream start and localCheckpoint-pinned; each
    * micro-batch of incoming (vec_id, v) embeddings probes its nprobe
    * nearest cells and appends its (new_id, home_cid, rank, nid, cos,
    * batch_id) assignment ledger to parquet — never batch×batch, and
    * per-batch cost is the batch×centroids probe plus the probed
    * posting lists regardless of stream age. Batch-id column makes
    * replays detectable downstream (at-least-once contract).
    */
  def incrementalAnnSink(vecs: DataFrame, index: DataFrame, nlist: Int,
      outDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // lloydCellsOn localCheckpoints both outputs eagerly — the
    // write-once index artifacts of this stream's lifetime
    val (cells, centroids) = graft.operators.SimOps
      .lloydCellsOn(index.sparkSession, index, nlist)
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.functions.NativeExprs.ensureRegistered(batch.sparkSession)
        graft.operators.SimOps
          .incrementalAssignOn(batch.sparkSession, cells, centroids,
            batch, nprobe = 2, k = 3)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("append").parquet(outDir)
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming OOD ADMISSION GATE — the streaming twin of
    * [[graft.api.Graft.oodFilter]], the third member of the
    * ingest-sink family ([[incrementalDedupSink]] checks content
    * novelty, [[incrementalAnnSink]] links neighbors, this gates on
    * GEOMETRIC novelty): the IVF base index (Lloyd cells + centroids
    * over the static `index` (vec_id, v) frame) AND its per-cell
    * exact p95 radii are built ONCE at stream start and
    * localCheckpoint-pinned; each micro-batch of incoming (vec_id, v)
    * embeddings is assigned to its home cell, distance-scored, and
    * flagged against the pinned radius, appending a (vec_id, cid, du,
    * p95_units, flagged, batch_id) verdict ledger to parquet.
    * Downstream, flagged = false is the admission path (feed
    * [[graft.api.Graft.appendToDedupIndex]]/[[graft.api.Graft.recenterIvf]]);
    * flagged = true routes to quarantine/review. Per-batch cost is
    * the batch×centroids broadcast assign + two broadcast joins —
    * never batch×batch, never index-linear. Batch-id makes replays
    * detectable (at-least-once contract).
    */
  def oodAdmissionSink(vecs: DataFrame, index: DataFrame, nlist: Int,
      outDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val s = index.sparkSession
    // lloydCellsOn localCheckpoints both outputs eagerly; the radius
    // table is the third write-once artifact of this stream's lifetime
    val (cells, centroids) = graft.operators.SimOps
      .lloydCellsOn(s, index, nlist)
    val p95 = graft.operators.SimOps.oodBaseP95(s, cells, centroids)
      .select(org.apache.spark.sql.functions.col("cid"),
        org.apache.spark.sql.functions.col("p95_units"))
      .localCheckpoint()
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.functions.NativeExprs.ensureRegistered(batch.sparkSession)
        graft.operators.SimOps
          .oodFlagsWithP95(batch.sparkSession, p95, centroids, batch)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("append").parquet(outDir)
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming CDC APPLY sink — the streaming twin of the batch
    * io_cdc_apply (r18 verdict #3): each micro-batch of changelog rows
    * (op ∈ I/U/D + full payload) folds into the CURRENT persisted
    * snapshot via [[graft.operators.IoOps.applyCdcOn]] and writes the
    * result as the NEXT content-complete snapshot version
    * (`<root>/v<batchId+1>` — versioned, never in place, so concurrent
    * readers keep a consistent view and [[latestCdcSnapshot]] is the
    * pointer). Seed `<root>/v0` with the base snapshot before starting.
    *
    * Versions are IMMUTABLE once written: each batch writes to
    * max(latest, batchId) + 1, strictly above whatever it read, so a
    * batch can never overwrite the files it is lazily scanning and a
    * concurrent reader's pinned version never changes under it.
    * At-least-once safety then comes from applyCdc's UPSERT semantics,
    * not offset bookkeeping: a replayed batch re-applies onto a
    * snapshot already at-or-past its effects — D on an absent id is a
    * no-op, U/I re-apply the same payload — so the appended version
    * carries the identical converged content (the replayed-changelog
    * convergence property in StreamPipelinesSpec; the batch twin's
    * idempotence is pinned by the io_cdc_apply oracle). Contract per
    * micro-batch: one op per id (collapse upstream by sequence number
    * first — the applyCdc contract). Per-batch cost is one anti-join +
    * union over the snapshot — the lakehouse MERGE cadence; a
    * production deployment swaps the parquet-dir version pointer for a
    * table format's commit protocol (and its version GC), nothing else
    * changes.
    */
  def cdcApplySink(changes: DataFrame, snapshotRoot: String,
      idCol: String, opCol: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val (cur, curPath) = latestCdcVersion(snapshotRoot)
        graft.operators.IoOps
          .applyCdcOn(s.read.parquet(curPath), batch, idCol, opCol)
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$snapshotRoot/v${math.max(cur, batchId) + 1}")
      }
      .trigger(trigger)
      .start()

  /** The committed snapshot a reader (or the next micro-batch) sees:
    * the highest-versioned `v<N>` subdirectory under the root. */
  def latestCdcSnapshot(s: SparkSession, snapshotRoot: String): DataFrame =
    s.read.parquet(latestCdcVersion(snapshotRoot)._2)

  private def latestCdcVersion(snapshotRoot: String): (Long, String) = {
    // Only a COMMITTED version counts as latest (r19 advice): a micro-batch
    // that crashes mid-write leaves a partial v<N> dir (no _SUCCESS marker
    // yet — the Hadoop committer writes it only at job commit), and reading
    // that partial dir as the current base would propagate the corruption
    // into every later version, voiding the at-least-once convergence
    // guarantee. Uncommitted dirs are skipped; the retry overwrites them.
    val versions = Option(new java.io.File(snapshotRoot).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").isFile)
    require(versions.nonEmpty,
      s"no committed snapshot versions under $snapshotRoot — seed v0 with " +
        "the base snapshot (a completed parquet write, _SUCCESS present) " +
        "before starting the sink")
    val latest = versions.maxBy(_.getName.drop(1).toLong)
    (latest.getName.drop(1).toLong, latest.getAbsolutePath)
  }

  /** Streaming funnel state machine — the incremental twin of the batch
    * ev_funnel, on the Spark 4 transformWithState API: one ValueState
    * per user holds the furthest step reached; an event advances the
    * machine only when it is exactly the NEXT step, and each advance
    * emits (user_id, step_index, step). `count(1) GROUP BY step` over
    * the output is the live funnel. State is one Int per user —
    * O(users), never O(events). Arrival order stands in for event time
    * (pair with an upstream watermark sort where late data matters);
    * the batch ev_funnel is the exact event-time formulation.
    */
  class FunnelProcessor(steps: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Int, String)] {
    @transient private var reached:
      org.apache.spark.sql.streaming.ValueState[Int] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      reached = getHandle.getValueState[Int]("reached",
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Int, String)] = {
      var cur = if (reached.exists()) reached.get() else 0
      val advances = Seq.newBuilder[(Long, Int, String)]
      rows.foreach { case (_, eventType) =>
        if (cur < steps.length && eventType == steps(cur)) {
          cur += 1
          advances += ((key, cur, eventType))
        }
      }
      reached.update(cur)
      advances.result().iterator
    }
  }

  /** [[FunnelProcessor]] wired over a (user_id, event_type) stream. */
  def funnelAdvances(events: org.apache.spark.sql.Dataset[(Long, String)],
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[(Long, Int, String)] =
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new FunnelProcessor(steps),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(Long, Int, String)])

  /** Streaming EWMA state machine — the incremental twin of the batch
    * stream_ewma: one ValueState per key holds the last smoothed value in
    * integer micro-units, and each arriving (key, sum_units) point emits
    * (key, seq, ewma_units) under the SAME recurrence the batch query
    * replays in DuckDB — e₁ = s₁; eₙ = (sₙ + 3·eₙ₋₁) div 4 — so a batch
    * backfill and the live stream produce bit-identical trajectories.
    * State is two longs per key, O(keys) forever. Arrival order stands in
    * for hour order (pair with an upstream watermark sort where late
    * points matter); the batch stream_ewma is the exact event-time
    * formulation.
    */
  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long)] {
    @transient private var last:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long)]("last",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long)] = {
      var (seq, ewma) =
        if (last.exists()) last.get() else (0L, 0L)
      val out = Seq.newBuilder[(String, Long, Long)]
      rows.foreach { case (_, sumUnits) =>
        seq += 1
        // Math.floorDiv, matching Spark SQL div / DuckDB // on the
        // non-negative units the batch twin feeds it
        ewma = if (seq == 1L) sumUnits
          else Math.floorDiv(sumUnits + 3L * ewma, 4L)
        out += ((key, seq, ewma))
      }
      last.update((seq, ewma))
      out.result().iterator
    }
  }

  /** [[EwmaProcessor]] wired over a (key, sum_units) points stream. */
  def ewmaPoints(points: org.apache.spark.sql.Dataset[(String, Long)])
      : org.apache.spark.sql.Dataset[(String, Long, Long)] =
    points.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new EwmaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(String, Long, Long)])

  /** LEGACY-API stateful running count — `flatMapGroupsWithState`, the
    * pre-transformWithState surface (SURVEY §2.9 names both): one long
    * of state per key, each batch emits the key's updated cumulative
    * count. Kept alongside the five transformWithState processors so a
    * user porting existing flatMapGroupsWithState code has a working
    * reference on THIS engine; new code should prefer
    * transformWithState (typed multi-state, timers, TTL).
    */
  def runningCountsLegacy(
      events: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, rows: Iterator[(Long, String)],
            state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((key, n))
        })(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.product[(Long, Long)])
  }

  /** Streaming GAP SESSIONIZER on EVENT-TIME TIMERS — the
    * transformWithState feature none of the other processors exercise:
    * instead of waiting for a user's NEXT event to notice their session
    * ended (the gap-split-on-arrival shape, which never closes the last
    * session of a churned user), each key arms a timer at
    * session_end + gap and the WATERMARK closes the session when it
    * passes that point — the streaming twin of the batch
    * `session_window` aggregate, with the same late-data discipline.
    * Within a batch, rows sort by event time and split on gap
    * directly; across batches the open session lives in one ValueState
    * triple and exactly one armed timer (re-armed per batch; stale
    * timers deleted). Emits (key, session_start_ms, session_end_ms,
    * n_events) when a session CLOSES — by gap on arrival or by timer on
    * watermark — so output is append-mode clean. State: three longs +
    * one timer per key with an open session, O(active keys).
    */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._2.getTime).toArray.sorted
      var (start, end, n) =
        if (st.exists()) st.get() else (-1L, -1L, 0L)
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      ts.foreach { t =>
        if (start < 0) { start = t; end = t; n = 1 }
        else if (t - end <= gapMs) { end = math.max(end, t); n += 1 }
        else { out += ((key, start, end, n)); start = t; end = t; n = 1 }
      }
      st.update((start, end, n))
      // exactly one armed timer per key: the open session's deadline
      getHandle.listTimers().foreach(e =>
        getHandle.deleteTimer(e.asInstanceOf[Long]))
      getHandle.registerTimer(end + gapMs)
      out.result().iterator
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] =
      if (st.exists()) {
        val (s, e, n) = st.get()
        st.clear()
        Iterator((key, s, e, n))
      } else Iterator.empty
  }

  /** [[SessionProcessor]] over a WATERMARKED (key, event_time) stream
    * (callers apply `.withWatermark` on the time column first — event-
    * time timers fire off that watermark).
    */
  def sessionStream(
      events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] =
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)])

  /** Streaming CUSUM drift detector (Page 1954, tabular form) — the
    * change-point monitor a data pipeline hangs on its quality metrics
    * (token counts, dup rates, per-source volumes): per key, the
    * one-sided cumulative sums
    * S⁺ₙ = max(0, S⁺ₙ₋₁ + (xₙ − target − slack)) and
    * S⁻ₙ = max(0, S⁻ₙ₋₁ + (target − slack − xₙ)) accumulate only
    * SUSTAINED drift past the slack band — a single spike decays, a
    * level shift grows linearly — and an alarm fires when either sum
    * crosses `threshold`, then restarts the detector (the standard
    * post-alarm reset). All integer units: exact, replayable, no float
    * accumulation. State is three longs per key, O(keys) forever;
    * unlike [[EwmaProcessor]]'s baseline-deviation alarm (which reads
    * each point alone against the smoothed past), CUSUM integrates
    * small persistent shifts that never individually clear a
    * per-point deviation bar.
    */
  class CusumProcessor(target: Long, slack: Long, threshold: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long, Long, Boolean)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("cusum",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long, Long, Boolean)] = {
      var (seq, sp, sn) = if (st.exists()) st.get() else (0L, 0L, 0L)
      val out = Seq.newBuilder[(String, Long, Long, Long, Boolean)]
      rows.foreach { case (_, x) =>
        seq += 1
        sp = math.max(0L, sp + (x - target - slack))
        sn = math.max(0L, sn + (target - slack - x))
        val alarm = sp > threshold || sn > threshold
        out += ((key, seq, sp, sn, alarm))
        if (alarm) { sp = 0L; sn = 0L } // restart after the change-point
      }
      st.update((seq, sp, sn))
      out.result().iterator
    }
  }

  /** [[CusumProcessor]] wired over a (key, value) points stream. */
  def cusumPoints(points: org.apache.spark.sql.Dataset[(String, Long)],
      target: Long, slack: Long, threshold: Long)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long, Boolean)] =
    points.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new CusumProcessor(target, slack, threshold),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders
          .product[(String, Long, Long, Long, Boolean)])

  /** Streaming last-touch attribution — the incremental twin of the
    * batch ev_attribution: one ValueState per user holds the campaign of
    * the user's most recent click, and each purchase emits (user_id,
    * campaign, value_units) crediting that campaign; purchases with no
    * prior click emit nothing (the batch model's unattributed-excluded
    * convention). `SUM(value_units) GROUP BY campaign` over the output
    * is the live revenue rollup, exactly comparable to a batch backfill
    * because credit rides as integral micro-cents. State is ONE long per
    * user — O(users), never O(events) — and clicks cost a state write,
    * purchases a state read: nothing is ever joined. Arrival order
    * stands in for event time (pair with an upstream watermark sort
    * where late clicks matter); batch ev_attribution is the exact
    * event-time formulation.
    *
    * Input: (user_id, event_type, campaign — negative when absent,
    * value_units).
    */
  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long, Long), (Long, Long, Long)] {
    @transient private var lastCampaign:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastCampaign = getHandle.getValueState[Long]("last_campaign",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      val credits = Seq.newBuilder[(Long, Long, Long)]
      rows.foreach { case (_, eventType, campaign, valueUnits) =>
        if (eventType == "click" && campaign >= 0L)
          lastCampaign.update(campaign)
        else if (eventType == "purchase" && lastCampaign.exists())
          credits += ((key, lastCampaign.get(), valueUnits))
      }
      credits.result().iterator
    }
  }

  /** [[AttributionProcessor]] wired over a
    * (user_id, event_type, campaign, value_units) stream. */
  def attributionCredits(
      events: org.apache.spark.sql.Dataset[(Long, String, Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] =
    events.groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)])

  /** Streaming per-key quantile sketch — the incremental twin of the
    * batch reduce_kll_quantiles: one ValueState per key holds the
    * [[graft.functions.KllSketch]] compactor stack (O(k·log(n/k)),
    * never the values), each micro-batch folds its rows in through the
    * SAME reduce the batch UDAF uses, and the batch-end snapshot emits
    * (key, n, estimates). While the sketch holds fewer than k values no
    * compaction has fired, so early snapshots are exact order
    * statistics — the spec pins that window bit-for-bit.
    */
  class QuantileProcessor(k: Int, quantiles: Array[Double])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Seq[Double])] {
    @transient private lazy val sketch =
      new graft.functions.KllSketch(k, quantiles)
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[graft.functions.KllBuf] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[graft.functions.KllBuf]("kll",
        org.apache.spark.sql.Encoders.product[graft.functions.KllBuf],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Seq[Double])] = {
      var buf = if (state.exists()) state.get() else sketch.zero
      rows.foreach { case (_, x) => buf = sketch.reduce(buf, x) }
      state.update(buf)
      Iterator((key, buf.n, sketch.finish(buf).toSeq))
    }
  }

  /** [[QuantileProcessor]] wired over a (key, value) stream. */
  def quantilePoints(points: org.apache.spark.sql.Dataset[(String, Double)],
      k: Int = 512, quantiles: Array[Double] = Array(0.5, 0.9))
      : org.apache.spark.sql.Dataset[(String, Long, Seq[Double])] =
    points.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new QuantileProcessor(k, quantiles),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(String, Long, Seq[Double])])

  /** Streaming HEAVY HITTERS — the incremental twin of the batch
    * agg_heavy_hitters (which sketch-prunes with CMS): per stream key,
    * a Misra–Gries summary (Misra–Gries 1982, public) of at most
    * `capacity` counters held in ONE MapState: an arriving item
    * increments its counter if present, takes a free slot if one
    * exists, and otherwise decrements EVERY counter (zeros evicted) —
    * the classical guarantee that any item with true frequency
    * > n/(capacity+1) is in the summary, and each kept estimate
    * undercounts its true frequency by at most the total decrement.
    * State is ≤ capacity entries per key — O(keys·capacity) forever,
    * never O(stream) — and while distinct items per key ≤ capacity no
    * decrement fires, so counts are EXACT (the window the spec pins
    * bit-for-bit across a multi-batch handoff). Each batch emits the
    * post-batch summary snapshot (key, item, est).
    */
  class HeavyHittersProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), (String, String, Long)] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("mg",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, String, Long)] = {
      rows.foreach { case (_, item) =>
        if (counts.containsKey(item))
          counts.updateValue(item, counts.getValue(item) + 1L)
        else {
          // materialize before mutating — the state iterator must not
          // observe concurrent updates
          val entries = counts.iterator().toList
          if (entries.size < capacity) counts.updateValue(item, 1L)
          else entries.foreach { case (k, v) =>
            if (v <= 1L) counts.removeKey(k)
            else counts.updateValue(k, v - 1L)
          }
        }
      }
      counts.iterator().toList.map { case (k, v) => (key, k, v) }.iterator
    }
  }

  /** [[HeavyHittersProcessor]] wired over a (key, item) stream. */
  def heavyHitterItems(items: org.apache.spark.sql.Dataset[(String, String)],
      capacity: Int = 8)
      : org.apache.spark.sql.Dataset[(String, String, Long)] =
    items.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new HeavyHittersProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[(String, String, Long)])

  /** Streaming corpus ingest — the LLM-pipeline front door as ONE
    * incremental plan: quality gate (token count + type-token ratio) →
    * content-fingerprint exact dedup with watermark-bounded state →
    * deterministic stratified keep (same wrap-safe hash as the batch
    * data-mixing step, so batch backfills and the stream agree on which
    * rows are kept). Input schema: doc_id BIGINT, text STRING,
    * lang STRING, ts TIMESTAMP.
    *
    * State stays bounded: the only stateful operator is the dedup, whose
    * fingerprints expire at the watermark; everything else is stateless
    * row-local projection/filtering.
    */
  def corpusIngest(docs: DataFrame,
      keepPerMille: Map[String, Long] = Map("en" -> 500L)): DataFrame = {
    val w = split(col("text"), " ")
    docs
      .withWatermark("ts", "30 minutes")
      .withColumn("n_tokens", size(w))
      .withColumn("ttr",
        size(array_distinct(w)).cast("double") / size(w))
      .filter(col("n_tokens") >= 5 && col("ttr") > 0.3)
      .withColumn("fp",
        md5(graft.operators.TextOps.normalizedText(col("text"))))
      .dropDuplicatesWithinWatermark("fp")
      .filter(pmod(pmod(col("doc_id"), lit(1000)) * lit(761L), lit(1000)) <
        coalesce(element_at(typedLit(keepPerMille), col("lang")),
          lit(1000L)))
      .select(col("doc_id"), col("lang"), col("fp"), col("n_tokens"),
        col("ttr"))
  }
}
