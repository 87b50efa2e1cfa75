package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ChildSessions, SessionHygiene}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Keyed state record for [[StreamingOps.statefulUserTotals]] — top-level
  * so the Catalyst encoder's generated code can reach its accessors.
  */
case class UserAgg(user_id: Long, n_events: Long, total_cents: Long)

/** Open-session state for [[StreamingOps.streamingSessions]]. */
case class OpenSession(session_id: Long, n_events: Long,
    first_event_id: Long, last_event_id: Long, cents: Long, last_ts_us: Long)

/** Emitted closed session. */
case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
    first_event_id: Long, last_event_id: Long, session_value: Double)

/** State + output rows for [[StreamingOps.userActivityTws]]
  * (transformWithState).
  */
case class TwsState(n_events: Long, types: Seq[String], max_event_id: Long)
case class TwsRow(user_id: Long, n_events: Long, n_types: Long,
    max_event_id: Long)

/** Arbitrary-state processor on the Spark 4 `transformWithState` API:
  * per-user running activity profile in a typed `ValueState`. The
  * state-variable handle model (named, independently-evolvable state
  * slots with optional TTL) is what distinguishes the new API from
  * mapGroupsWithState's single state blob; TTL is the knob that bounds
  * a 24/7 deployment's state without a watermark.
  */
class UserActivityProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Long), TwsRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[TwsState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[TwsState](
      "activity", Encoders.product[TwsState], TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[(Long, String, Long)],
      timers: TimerValues): Iterator[TwsRow] = {
    val prev = Option(state.get()).getOrElse(TwsState(0L, Seq.empty, -1L))
    var n = prev.n_events
    var types = prev.types.toSet
    var maxId = prev.max_event_id
    rows.foreach { case (_, tpe, eid) =>
      n += 1; types += tpe; maxId = math.max(maxId, eid)
    }
    val next = TwsState(n, types.toSeq.sorted, maxId)
    state.update(next)
    Iterator.single(TwsRow(user, n, types.size.toLong, maxId))
  }
}

/** Structured Streaming surface. The reference's "streaming" is cron-
  * driven micro-batching with an application watermark (SURVEY.md §2.11,
  * `controller.js:50-75`); here the same incremental semantics run as a
  * real stream: parquet file source → event-time windowed aggregation /
  * keyed state → sink. `Trigger.AvailableNow` drains the backlog exactly
  * once, which is the cron-batch contract.
  *
  * One drain: every stream in the engine runs through [[StreamingOps.drain]],
  * which owns the `foreachBatch` sink, the trigger, the checkpoint under
  * the operator's durable root and the state-store release. A drain that
  * needs its own confs gets them on a child session; query code never
  * writes the session's conf, so concurrent queries on one session plan
  * as they would alone.
  *
  * Sink discipline: the micro-batches write executor-side — a parquet
  * append per batch (the delta sinks, tagged with `batch_id`, read back
  * latest-batch-wins per key by a DISTRIBUTED batch read), a compacted
  * state table, or a gated versioned ledger
  * ([[StreamingOps.VersionedLedger.fold]]). Nothing ever materializes on
  * the driver; a memory sink (which collects every snapshot into driver
  * memory per trigger) appears only in tests. At cluster scale the same
  * shape backs a Delta/Iceberg upsert sink; plain parquet-append +
  * last-writer-wins keeps it dependency-free here.
  */
object StreamingOps {

  // raw parquet schema modulo `ts`, whose physical type depends on the
  // fixture vintage (TIMESTAMP(NANOS) → long, TIMESTAMP(MICROS) → ntz);
  // streamEvents probes the footer and normalizes (see Tables.normalizeTs)
  private def eventsSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  private val counter = new AtomicInteger(0)

  /** Resolve the durable root for one operator's state: an explicit
    * `stateRoot` parameter wins, then the `SPARK_GRAFT_STATE_ROOT`
    * env override (the verify-harness knob that re-points EVERY
    * streaming state table at a shared store in one sweep), else None
    * (session-temp behavior). A durable root holds the operator's
    * state tables, its drain sink, and its streaming CHECKPOINT — the
    * three things a restarted query must find again (r10 verdict #1:
    * the reference's Redis state outlives the Node process,
    * /root/reference/src/database/redisClient.js:4-34; the Spark
    * analogue is state + checkpoint on a store the driver doesn't own).
    * Durable paths are intentionally NOT Caches-tracked — surviving
    * the session is their point. On a cluster, pass an HDFS/S3A URI;
    * everything below goes through the Hadoop FS API.
    */
  private def effectiveRoot(stateRoot: Option[String],
      op: String): Option[String] =
    stateRoot.orElse(
      sys.env.get("SPARK_GRAFT_STATE_ROOT").map(r => s"$r/$op"))

  /** A state/sink directory under the durable root, or a tracked temp
    * dir when no root is configured.
    */
  private def stateDir(root: Option[String], name: String): String =
    root.map(r => s"$r/$name").getOrElse(graft.Caches.trackTempDir(
      Files.createTempDirectory(s"graft_${name}_")).toString)

  /** Drain `stream` once with `Trigger.AvailableNow`: every micro-batch
    * goes to `perBatch` through `foreachBatch`, and the call returns
    * when the backlog is done. This is the cron-fired batch of the
    * reference, and every drain in the engine goes through here.
    *
    * With a durable `root` the checkpoint is `<root>/_checkpoint`, so a
    * restarted drain resumes from the file-source offsets instead of
    * re-reading every input file. The checkpoint alone is NOT what makes
    * versioned-ledger resume exact: a crash after a version commit but
    * before the checkpoint's batch commit replays that batch, and
    * [[VersionedLedger.isReplayed]] is the gate that keeps the replay
    * from being folded twice.
    *
    * `confs` hold for this drain only. They go on a child session
    * ([[org.apache.spark.sql.graft.ChildSessions]]) that the stream's
    * plan is rebound to; the caller's session conf is never written, so
    * a query planned concurrently on it is unaffected. Micro-batches run
    * on a clone of that child, so the confs reach `perBatch`'s own plans
    * too. That clone's streaming-listener bus is detached when the drain
    * returns, so drains do not pile buses up on the SparkContext.
    *
    * The state-store providers a stateful stream leaves loaded
    * (HDFS-map heap, RocksDB native memory — see SessionHygiene) are
    * released with the query's other residue at [[graft.Caches]]
    * release.
    */
  private[graft] def drain(stream: DataFrame, root: Option[String],
      mode: OutputMode = OutputMode.Append(),
      confs: Map[String, String] = Map.empty)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    graft.Caches.onRelease(() => SessionHygiene.unloadStateStores())
    val df =
      if (confs.isEmpty) stream
      else ChildSessions.rebind(stream,
        ChildSessions.withConfs(stream.sparkSession, confs))
    val w = df.writeStream
      .outputMode(mode)
      .foreachBatch(perBatch)
      .trigger(Trigger.AvailableNow())
    val q = root.fold(w)(r => w.option("checkpointLocation", s"$r/_checkpoint"))
      .start()
    try q.awaitTermination()
    finally ChildSessions.releaseStream(q)
  }

  /** The shuffle width a drain's state fold runs at when it builds a
    * shared artifact: the gated-ledger folds aggregate each micro-batch
    * to REPORT grain (cells/users/sessions — never event grain), so the
    * session width — sized for corpus scans — spends more on empty
    * reduce partitions than on the fold (the r18 A/B: funnel family
    * +5–15% at small width). On a real cluster this is the knob you
    * SIZE to state volume.
    */
  private[streaming] val StateWidth =
    Map("spark.sql.shuffle.partitions" -> "8")

  /** Latest existing COMMITTED version under a versioned-ledger root:
    * (max numeric suffix, its path, its source micro-batch id).
    * Versions are written as `b<n>_<batchId>` (legacy `b<n>` parses
    * with batch id −1 = unknown); a resumed run continues the
    * numbering past the max (counting even uncommitted dirs, so
    * nothing is ever overwritten) but only RESUMES from a version
    * carrying the `_SUCCESS` commit marker — a crash mid-write leaves
    * a partial version dir, and resuming from it would silently
    * corrupt the ledger (the versioned-ledger analogue of the
    * compaction-swap recovery). The batch id lives in the DIRECTORY
    * NAME so it commits atomically with the version itself: there is
    * no sidecar-write window in which a committed version exists
    * without its replay watermark (r11 advice #1/#3).
    */
  private[graft] def latestVersion(spark: SparkSession,
      root: String): (Long, Option[String], Long) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (-1L, None, -1L)
    else {
      val vs = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("b"))
        .flatMap { n =>
          val body = n.drop(1)
          val (vStr, bStr) = body.span(_ != '_')
          vStr.toLongOption.map(v => (v, n,
            if (bStr.isEmpty) -1L
            else bStr.drop(1).toLongOption.getOrElse(-1L)))
        }
      if (vs.isEmpty) (-1L, None, -1L)
      else {
        val mx = vs.map(_._1).max
        val committed = vs
          .filter { case (_, n, _) => fs.exists(
            new org.apache.hadoop.fs.Path(s"$root/$n/_SUCCESS")) }
        val best = committed.sortBy(_._1).lastOption
        (mx, best.map { case (_, n, _) => s"$root/$n" },
          best.map(_._3).getOrElse(-1L))
      }
    }
  }

  /** Driver-side handle for ONE versioned-ledger state table: resume
    * from the latest committed version, continue the numbering, and —
    * the crash-replay contract (r11 advice #1) — SKIP the fold for a
    * micro-batch whose id is already folded into the resumed version.
    * The danger window: a crash lands after a version write completes
    * (`_SUCCESS` present) but before the streaming checkpoint commits
    * that batch; the restarted query then replays the batch against a
    * state that already contains it, and every non-idempotent fold
    * (sum-merge ledgers, SCD2 recompute, heavy-hitter counts) would
    * double-count. Because each version's dir name carries its source
    * batch id, `isReplayed` detects exactly that window and the
    * operator reuses the committed version instead of re-folding.
    * Without a durable root there is no checkpoint and no replay;
    * the gate degenerates to always-fold.
    */
  private[streaming] final class VersionedLedger(spark: SparkSession,
      ledgerRoot: String, root: Option[String]) {
    private val (base, committedPath, committedBatch) =
      root.map(_ => latestVersion(spark, ledgerRoot))
        .getOrElse((-1L, None, -1L))
    private val ver =
      new java.util.concurrent.atomic.AtomicLong(math.max(base, -1L))
    private val lastBatch =
      new java.util.concurrent.atomic.AtomicLong(committedBatch)
    private val cur =
      new java.util.concurrent.atomic.AtomicReference[String](
        committedPath.getOrElse(""))
    /** Latest committed version path at construction (resume seed). */
    def resumedFrom: Option[String] = committedPath
    def isEmpty: Boolean = cur.get.isEmpty
    def path: String = cur.get
    /** True iff `id` is already folded into the current version — the
      * caller must skip its fold and keep the version as-is.
      */
    def isReplayed(id: Long): Boolean =
      lastBatch.get >= 0L && id <= lastBatch.get
    /** Write the next version for micro-batch `id`. */
    def write(df: DataFrame, id: Long): Unit = {
      val next = s"$ledgerRoot/b${ver.incrementAndGet()}_$id"
      df.write.mode("overwrite").parquet(next)
      // the commit timestamp record (q512 wall-clock AS OF axis);
      // the fixture clock derives from the batch id, so a legacy
      // version without the sidecar reads identically
      Provenance.writeCommitTs(spark, next,
        Provenance.CommitClock.ofBatch(id))
      cur.set(next)
      lastBatch.set(math.max(lastBatch.get, id))
    }

    /** The gated ledger fold for micro-batch `id`: unless the batch is
      * a crash replay already folded in, write `delta` as the next
      * version — as is on an empty ledger, else `merge` of the current
      * version ∪ `delta` (read with `delta`'s session, the batch's).
      * `delta` is built only when the batch folds.
      */
    def fold(id: Long, delta: => DataFrame)(
        merge: DataFrame => DataFrame = identity): Unit =
      if (!isReplayed(id)) {
        val d = delta
        write(if (isEmpty) d
          else merge(d.sparkSession.read.parquet(path).unionByName(d)), id)
      }

    /** Write the next version for micro-batch `id` with its typed
      * change rows committed ATOMICALLY beside it: state and
      * `_changeset` are staged under an underscore dir (invisible to
      * version listings) and land in one rename — the commit
      * discipline OCC writers already use, generalized so the change
      * data feed (q452–q454) is a metadata read instead of an
      * adjacent-version diff.
      */
    def writeWithChangeset(df: DataFrame, id: Long,
        changes: DataFrame): Unit = {
      import org.apache.hadoop.fs.Path
      val v = ver.incrementAndGet()
      val next = s"$ledgerRoot/b${v}_$id"
      val staging = s"$ledgerRoot/_staging_b${v}_$id"
      df.write.mode("overwrite").parquet(staging)
      changes.write.mode("overwrite").parquet(s"$staging/_changeset")
      // timestamp rides the staging dir: state, change set, and
      // commit time land in ONE rename
      Provenance.writeCommitTs(spark, staging,
        Provenance.CommitClock.ofBatch(id))
      val fs = new Path(ledgerRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(next), true) // replay overwrite, single-writer
      if (!fs.rename(new Path(staging), new Path(next)))
        sys.error(s"ledger commit failed: rename($staging -> $next)")
      cur.set(next)
      lastBatch.set(math.max(lastBatch.get, id))
    }
    /** Initial (pre-stream) artifact — not tied to a source batch. */
    def init(df: DataFrame): Unit = {
      val next = s"$ledgerRoot/b${ver.incrementAndGet()}"
      df.write.mode("overwrite").parquet(next)
      cur.set(next)
    }
  }

  /** Max of a long column over an existing parquet state table, or
    * None when the table doesn't exist yet / is empty — the
    * arrival-contract seed for a resumed run (see [[batchOrderGuard]]).
    */
  private def existingStateMax(spark: SparkSession, dir: String,
      colName: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) ||
      !fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      None
    else {
      val r = spark.read.parquet(dir).agg(max(col(colName))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
  }

  /** Highest micro-batch id recorded beside a durable append-state
    * table, or None when no marker exists — the cross-restart seed for
    * [[batchOrderGuard]]'s replay exemption (r11 advice #2): without
    * it a restarted run treats a legitimately replayed batch as
    * forward progress, finds its doc_ids already in the seeded state,
    * and wedges on the arrival-contract check. Markers are empty
    * `_batch_b<id>` files in a `<dir>_meta` SIBLING of the state table
    * (inside the table they would be lost to the compaction swap):
    * each write is an idempotent CREATE of a new name — no
    * delete-then-rename window can lose the watermark — and older
    * markers are garbage-collected best-effort after the new one
    * exists (a failed delete leaves the max unchanged).
    */
  private def batchMarkerMax(spark: SparkSession,
      stateTab: String): Option[Long] = {
    val dir = stateTab + "_meta"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_batch_b"))
      .flatMap(_.drop(8).toLongOption)
      .maxOption
  }

  /** Record that micro-batch `id` has passed the arrival guard for the
    * state table at `dir`. Called BEFORE the batch's state append, so
    * a crash anywhere after it leaves the replayed batch guard-exempt
    * (the append itself is idempotent — identical rows, deduplicated
    * by compaction and by the drain's distinct).
    */
  private def writeBatchMarker(spark: SparkSession, stateTab: String,
      id: Long): Unit = {
    val dir = stateTab + "_meta"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.mkdirs(p)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_batch_b$id"),
      true).close()
    fs.listStatus(p).map(_.getPath)
      .filter(q => q.getName.startsWith("_batch_b") &&
        q.getName.drop(8).toLongOption.exists(_ < id))
      .foreach(q => try fs.delete(q, false) catch {
        case _: java.io.IOException => ()
      })
  }

  /** Enforce the id-ordered arrival contract the min-doc streaming
    * keepers (q175 window dedup, q235 exact dedup) are documented
    * against: batches arrive in monotone doc_id order, the order the
    * reference's keyset pagination guarantees
    * (/root/reference/src/services/fetchContact.js:5-11). A batch
    * carrying an id at or below the running max would silently keep
    * both copies / pick the wrong keeper — this turns that silent
    * divergence into a loud failure (r10 advice #2). Replayed batches
    * (same or lower batch id) legitimately re-carry old ids and are
    * exempt; only FORWARD batch progress is checked. The exemption
    * spans RESTARTS too (r11 advice #2): callers seed `lastBatchId`
    * from the [[batchMarkerMax]] watermark persisted beside the
    * durable state, so a crash-replayed batch whose doc_ids are
    * already in the seeded state is recognized as a replay instead of
    * wedging the resume on the very check that exists to protect it.
    */
  private def batchOrderGuard(batch: DataFrame, id: Long,
      lastBatchId: java.util.concurrent.atomic.AtomicLong,
      seenMax: java.util.concurrent.atomic.AtomicLong,
      idCol: String = "doc_id"): Unit = {
    val mm = batch.agg(min(col(idCol)), max(col(idCol))).collect()(0)
    if (!mm.isNullAt(0)) {
      val bmin = mm.getLong(0)
      val bmax = mm.getLong(1)
      if (id > lastBatchId.get && seenMax.get != Long.MinValue &&
        bmin <= seenMax.get)
        throw new IllegalStateException(
          s"out-of-order arrival: batch $id carries $idCol $bmin <= " +
            s"state max ${seenMax.get}; the min-doc keeper rule requires " +
            "monotone id arrival (keyset-paginated feed)")
      if (bmax > seenMax.get) seenMax.set(bmax)
    }
    if (id > lastBatchId.get) lastBatchId.set(id)
  }

  /** The documents table's columns, which every documents stream reads. */
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The embeddings table's columns. */
  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** A parquet file stream of `schema` over the files in `dir` matching
    * `sourceGlob`, at most `maxFilesPerTrigger` per micro-batch (a
    * streaming file source needs its schema up front).
    */
  private[streaming] def streamParquet(spark: SparkSession,
      schema: StructType, dir: String, sourceGlob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", sourceGlob)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    reader.parquet(dir)
  }

  /** The events table as a file stream over `sourceDir` (default
    * `dir`; a file source needs a dir) of the files matching
    * `sourceGlob`, at most `maxFilesPerTrigger` per micro-batch, with
    * `ts` normalized like [[Tables.events]].
    */
  def streamEvents(spark: SparkSession, dir: String,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      sourceDir: Option[String] = None): DataFrame = {
    // one footer read (driver-side, metadata only) pins the
    // vintage-dependent ts type
    val tsType = Tables.rawEvents(spark, dir)
      .schema("ts").dataType // memoized footer (Tables.schemaMemo)
    Tables.normalizeTs(streamParquet(spark, eventsSchema(tsType),
      sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger))
  }

  /** The documents table as a file stream, with the same source
    * parameters as [[streamEvents]].
    */
  def streamDocuments(spark: SparkSession, dir: String,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      sourceDir: Option[String] = None): DataFrame =
    streamParquet(spark, docsSchema, sourceDir.getOrElse(dir), sourceGlob,
      maxFilesPerTrigger)

  /** The one gated-ledger state drain: fold each micro-batch's `stat`
    * into the versioned ledger `<root>/<table>` with `merge` (see
    * [[VersionedLedger.fold]]) and return the drained state. `root` is
    * the operator's durable root ([[effectiveRoot]] of `op`), so the
    * ledger and the checkpoint resume together.
    */
  private def mergedState(spark: SparkSession, stream: DataFrame,
      op: String, table: String, stateRoot: Option[String])(
      stat: DataFrame => DataFrame)(
      merge: DataFrame => DataFrame): DataFrame = {
    val root = effectiveRoot(stateRoot, op)
    val ledger = new VersionedLedger(spark, stateDir(root, table), root)
    drain(stream, root) { (batch, id) => ledger.fold(id, stat(batch))(merge) }
    spark.read.parquet(ledger.path)
  }

  /** Runs `df` as an Update-mode stream whose micro-batches append to a
    * fresh parquet directory (executor-side writes, no driver path),
    * then returns a batch DataFrame over the accumulated deltas. The
    * final read carries the sink schema explicitly, so a zero-batch
    * stream (empty dir) still yields a readable empty result without
    * paying a schema-pinning write job up-front.
    */
  private def runToDeltaSink(spark: SparkSession, df: DataFrame,
      tag: String,
      mode: OutputMode = OutputMode.Update,
      root: Option[String] = None,
      confs: Map[String, String] = Map.empty): DataFrame = {
    // The parquet delta-sink dir is read lazily by the returned
    // DataFrame, so it is released with the query's caches, not here.
    // Under a durable root the sink and the streaming checkpoint (the
    // windowed/keyed STATE these operators keep lives in the
    // checkpoint's state store) both land there, untracked — a
    // restarted query resumes its state instead of re-aggregating.
    val sinkDir = stateDir(root, s"${tag}_sink")
    drain(df, root, mode, SinkConfs ++ confs) { (batch, id) =>
      batch.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(sinkDir)
    }
    spark.read.schema(df.withColumn("batch_id", lit(-1L)).schema)
      .parquet(sinkDir)
  }

  /** The delta-sink drains' own confs. Stateful streaming cost is
    * dominated by per-partition state-store instances, and the state
    * cardinality here (windows × types / user keys) is tiny beside the
    * session's shuffle width, so the state runs 4 wide; on a real
    * cluster this is the knob you SIZE to state volume. The trailing
    * no-data micro-batch advances the watermark and fires state
    * timeouts; NOTHING here needs it — last-batch-wins reconstruction
    * replaces timeout flushing (see streamingSessions: processing-time
    * timeouts under a drain-once trigger loop no-data batches
    * unboundedly), and skipping it saves a plan+commit round.
    */
  private val SinkConfs = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Event-time tumbling-window aggregation: Update mode emits each
    * window's refreshed total per micro-batch into the delta sink; the
    * final read keeps the latest snapshot per (window, type) — a
    * distributed groupBy, not a driver collect. The watermark bounds
    * window state (with AvailableNow's single drain it never discards
    * data). Batch-equivalent result = GROUP BY date_trunc('hour', ts),
    * which the oracle checks.
    */
  def hourlyWindowCounts(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    // watermark demands TimestampType (not NTZ); the session timezone is
    // pinned to UTC everywhere, so the rendered window_start is identical
    val agg = streamEvents(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        col("window.start").cast("string").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
    runToDeltaSink(spark, agg, "hourly",
      root = effectiveRoot(stateRoot, "hourly_window"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(max(struct(col("batch_id"), col("n_events"), col("total_value")))
        .as("last"))
      .select(col("window_start"), col("event_type"),
        col("last.n_events").as("n_events"),
        col("last.total_value").as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Watermarked stream-stream interval join (q74): the streaming twin
    * of the batch range join (q72) — purchases and errors arrive as two
    * streams, and each error joins the same user's purchases from the
    * preceding hour. Both sides carry event-time watermarks plus the
    * time-range condition, so the join state is bounded: a purchase row
    * is dropped once the error-side watermark passes its hour window —
    * this is what makes the operator runnable forever at scale. Inner
    * append-mode join emits each matched pair exactly once; the batch
    * aggregation over the drained sink must equal q72's oracle.
    */
  def streamStreamRangeJoin(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    val ev = streamEvents(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("e_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purch.join(errs,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
    runToDeltaSink(spark, joined.select(col("p_user"), col("p_id"),
        col("e_id")), "ssjoin", OutputMode.Append,
        root = effectiveRoot(stateRoot, "range_join"))
      .groupBy(col("p_user").as("user_id"))
      .agg(
        countDistinct(col("p_id")).as("n_purchases_with_errors"),
        countDistinct(col("e_id")).as("n_errors_after_purchase"),
        min(col("p_id")).as("first_purchase_id"))
      .orderBy(col("user_id"))
  }

  /** Stream-static broadcast enrichment (q76): the streaming micro-batch
    * joined against a static dimension (customer) — Spark re-plans the
    * static side per batch and broadcasts it, so the stream never
    * shuffles. The enrichment-at-ingest shape of the reference's Redis
    * HGET decoration, as a stream.
    */
  def streamStaticEnrich(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    val ev = streamEvents(spark, dir)
      .select(col("user_id"), col("value"))
    val dim = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val joined = ev.join(dim, col("user_id") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    runToDeltaSink(spark, joined, "enrich",
      root = effectiveRoot(stateRoot, "enrich"))
      .groupBy(col("c_mktsegment"))
      .agg(max(struct(col("batch_id"), col("n_events"), col("total_value")))
        .as("last"))
      .select(col("c_mktsegment"),
        col("last.n_events").as("n_events"),
        col("last.total_value").as("total_value"))
      .orderBy(col("c_mktsegment").asc_nulls_first)
  }

  /** Streaming deduplication (q77): `dropDuplicatesWithinWatermark` on
    * the key columns — the exactly-once ingest guard for a feed that
    * may redeliver. The within-watermark variant is what actually
    * BOUNDS the dedup state (plain `dropDuplicates` without the event-
    * time column in its key set keeps every key forever): a key's state
    * is dropped once the watermark passes its event time, so a 24/7
    * deployment holds only the horizon's keys. Keys re-arriving beyond
    * the horizon may re-emit — the downstream `distinct()` (an
    * idempotent sink merge in production) absorbs that, which is the
    * standard at-least-once-to-exactly-once contract.
    */
  def streamingDedup(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    val distinctKeys = streamEvents(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToDeltaSink(spark, distinctKeys, "dedup", OutputMode.Append,
      root = effectiveRoot(stateRoot, "wm_dedup"))
      .select(col("user_id"), col("event_type"))
      .distinct() // idempotent vs redelivered batches
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Streaming gap sessionization via flatMapGroupsWithState (q89) —
    * the multi-row-emit keyed-state operator §2.11 lists beside
    * mapGroupsWithState: each user's events fold into gap-delimited
    * (30 min) sessions. A batch's completed sessions emit as final
    * rows; the still-open tail session emits a PROVISIONAL snapshot
    * every batch and lives on in keyed state — the delta sink's
    * last-batch-wins reconstruction keeps whichever snapshot a session
    * settled at, so once the drain finishes the result equals batch
    * [[graft.operators.Sessionize]] (oracled against the same SQL as
    * q20). Update-mode re-emission instead of state timeouts: timeout
    * flushing needs trailing no-data batches, which run UNBOUNDED under
    * processing-time timeouts on a drain-once trigger (measured: an
    * endless empty-batch loop); snapshot + last-writer-wins needs
    * neither timeouts nor extra batches. Per-batch per-user events sort
    * in memory: state is one open session per key, and the in-batch
    * sort is bounded by a key's batch volume, the same bound every
    * keyed-state operator carries.
    */
  def streamingSessions(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    import spark.implicits._
    val GapUs = 30L * 60 * 1000 * 1000 // 30 min in microseconds
    val ds = streamEvents(spark, dir)
      .select(col("user_id"), col("event_id"),
        // full microsecond precision — a bare long cast truncates to
        // seconds and would mis-order ties vs the batch sessionizer
        expr("unix_micros(cast(ts AS timestamp))").as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
    val sessions = ds
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[OpenSession]) =>
          def toRow(s: OpenSession): SessionRow =
            SessionRow(user, s.session_id, s.n_events,
              s.first_event_id, s.last_event_id, s.cents / 100.0)
          val sorted = rows.toArray.sortBy(r => (r._3, r._2))
          val out = List.newBuilder[SessionRow]
          var cur = state.getOption.orNull
          sorted.foreach { case (_, eid, ts, cents) =>
            cur match {
              case null =>
                cur = OpenSession(1L, 1L, eid, eid, cents, ts)
              case s if ts > s.last_ts_us + GapUs =>
                out += toRow(s) // closed: this emission is final
                cur = OpenSession(s.session_id + 1, 1L, eid, eid, cents, ts)
              case s =>
                // min/max both defended: (ts, event_id) sort order does
                // not imply event_id order, and the oracle contract is
                // MIN/MAX over the session's ids
                cur = OpenSession(s.session_id, s.n_events + 1,
                  math.min(s.first_event_id, eid),
                  math.max(s.last_event_id, eid),
                  s.cents + cents, math.max(s.last_ts_us, ts))
            }
          }
          if (cur != null) {
            state.update(cur)
            out += toRow(cur) // open tail: provisional snapshot
          }
          out.result().iterator
      }
    runToDeltaSink(spark, sessions.toDF(), "sessions",
      root = effectiveRoot(stateRoot, "sessions"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(struct(col("batch_id"), col("n_events"),
        col("first_event_id"), col("last_event_id"),
        col("session_value"))).as("last"))
      .select(col("user_id"), col("session_id"),
        col("last.n_events").as("n_events"),
        col("last.first_event_id").as("first_event_id"),
        col("last.last_event_id").as("last_event_id"),
        col("last.session_value").as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Per-user activity profile on the NEW arbitrary-state API (q90):
    * `transformWithState` + [[UserActivityProcessor]] — typed named
    * state variables (vs mapGroupsWithState's single blob), TTL-capable,
    * RocksDB-backed (the provider the new API requires; also the right
    * provider for beyond-heap state at 100 TB). Update-mode snapshots
    * into the delta sink; last batch wins per key — the same
    * reconstruction contract as the rest of the streaming family, and
    * the batch-equivalent aggregation is what the oracle checks.
    */
  def userActivityTws(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val ds = streamEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .as[(Long, String, Long)]
    val updated = ds
      .groupByKey(_._1)
      .transformWithState(new UserActivityProcessor,
        TimeMode.None(), OutputMode.Update())
    runToDeltaSink(spark, updated.toDF(), "tws",
        root = effectiveRoot(stateRoot, "tws"),
        confs = Map("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")))
      .groupBy(col("user_id"))
      .agg(max(struct(col("batch_id"), col("n_events"), col("n_types"),
        col("max_event_id"))).as("last"))
      .select(col("user_id"),
        col("last.n_events").as("n_events"),
        col("last.n_types").as("n_types"),
        col("last.max_event_id").as("max_event_id"))
      .orderBy(col("user_id"))
  }

  /** Streaming near-dup screening against the PERSISTED historical band
    * table (q116): the streaming fusion of
    * [[graft.operators.Dedup.incrementalMinhashPersisted]] — the
    * 24/7 crawl-curation shape at 100 TB. The historical corpus's band
    * signatures are a stored parquet artifact (content-addressed,
    * written once, partitionable by band); new documents arrive as a
    * stream, and each micro-batch is shingled + banded EXECUTOR-SIDE
    * inside `foreachBatch`, equi-joined against the stored band table
    * for candidates, exact-Jaccard-verified (candidate-bounded), and
    * appended to the delta sink.
    *
    * STREAM-vs-STREAM duplicates are paired too: each batch's bands are
    * APPENDED to a stream band state table after pairing (mirroring the
    * reference's per-batch registry update —
    * /root/reference/src/services/saveToPostgres.js:249-252 — which
    * exists precisely so later batches dedup against earlier ones), and
    * the batch joins that state INCLUDING itself, so two copies of a
    * document that both arrive via the stream — same micro-batch or
    * different ones — are paired. Stream-stream pairs are canonically
    * oriented (new_id = max id, corpus_id = min id), which makes the
    * emitted pair set independent of how the stream happens to be
    * micro-batched; cross pairs keep (new_id = stream doc).
    *
    * Per-batch work: banding the BATCH, the candidate joins (historical
    * bands cached once for the life of the query; stream state is the
    * accumulated bands — narrow (id, band, bucket) rows, exactly the
    * artifact a real pipeline folds into its main band table), and
    * candidate-bounded verification. Replays are idempotent: a re-run
    * batch re-appends its bands, but candidate generation dedups pairs
    * and the drained sink dedups rows (and [[StreamState]] compaction
    * physically dedups the re-appended state).
    *
    * State lifecycle (r9 verdict #3): the state table is compacted by
    * [[StreamState.maybeCompact]] whenever its delta-file count
    * crosses `stateCompactMaxFiles`, so a long-running stream's
    * per-batch state read stays O(state), never O(batches). Skew: BOTH
    * sides of every band join route through the hot-bucket quarantine
    * ([[graft.operators.Dedup.capHotBuckets]]) — corpus side once at
    * artifact read, batch and state sides per batch.
    *
    * `sourceDir`/`sourceGlob`/`maxFilesPerTrigger`/`stateRoot` exist
    * for the multi-micro-batch and compaction specs (DedupChainSpec
    * splits a corpus across files to pin cross-batch stream-stream
    * pairing and drains a 10-batch run into an inspectable state dir);
    * production defaults read the fixture as the batch path does.
    */
  def streamingBandDedup(spark: SparkSession, dir: String,
      batchMod: Int = 10, batchRem: Int = 9,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None,
      stateCompactMaxFiles: Int = 32): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.Tables
    val isBatch = col("doc_id") % batchMod === batchRem
    // the stored historical artifact, built once per call into a
    // tracked temp dir (a real pipeline persists it between runs)
    val bandTab = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_bandtab_")).toString
    Dedup.bandDocs(Tables.documents(spark, dir).filter(!isBatch))
      .write.mode("overwrite").parquet(bandTab)
    // stream band state: starts empty (or resumes durable content),
    // grows by one append per batch, compacted by StreamState when the
    // delta-file count crosses the bound. Under a durable root the
    // state, sink, and checkpoint all land there — a restarted query
    // finds all three (the compaction spec also uses the root to
    // inspect the directory it drains into).
    val root = effectiveRoot(stateRoot, "band_dedup")
    val streamBandTab = stateDir(root, "bands")
    val newDocs = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir).filter(isBatch)
    val sinkDir = stateDir(root, "sink")
    // The historical side is FIXED for the life of the query — cache it
    // once across micro-batches (bands for candidate gen, shingle sets
    // for verification) instead of re-scanning parquet per batch. The
    // r6 driver bench charged q116 a per-batch corpus re-read; with the
    // caches, per-batch work is banding the BATCH + the candidate joins
    // only. Both persists release via Caches.releaseAll after the
    // drained stream's final batch read.
    // hot-bucket quarantine on the CORPUS side, applied once for the
    // life of the query (r9 verdict: a boilerplate corpus bucket
    // multiplies against EVERY batch — the self-join skew bomb paid
    // per-batch). Same BandBucketCap as the self-join family; no-op at
    // the fixtures.
    val corpusBands = Dedup.capHotBuckets(spark.read.parquet(bandTab))
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket"))
      .persist()
    val corpusDocs = Tables.documents(spark, dir).persist()
    graft.Caches.onRelease(() => {
      try corpusBands.unpersist(false) catch { case _: Throwable => () }
      try corpusDocs.unpersist(false) catch { case _: Throwable => () }
    })
    drain(newDocs, root) { (batch, id) =>
      val ss = batch.sparkSession
      val bb = Dedup.bandDocs(batch)
        .select(col("doc_id"), col("band"), col("bucket"))
        // barrier: batch bands feed the state append and two
        // candidate joins; band once
        .persist()
      // state append FIRST, so "state" below = earlier batches ∪ this
      // one — within-batch and cross-batch stream pairs fall out of
      // the same join. Recover any interrupted compaction swap BEFORE
      // the append: appending into a mid-swap-missing directory would
      // make the fresh append masquerade as the full state.
      StreamState.recover(ss, streamBandTab)
      bb.write.mode("append").parquet(streamBandTab)
      // bounded state lifecycle: compact the append-only state table
      // before this batch's read when its file count crosses the
      // bound — per-batch state reads stay O(state), not O(batches)
      StreamState.maybeCompact(ss, streamBandTab, stateCompactMaxFiles,
        tag = "band_dedup/bands")
      // batch side capped on its own frequencies; the growing state
      // side re-caps per read (it IS a self-side over enough
      // micro-batches — the r8 skew bomb paid incrementally)
      val newBands = Dedup.capHotBuckets(bb)
        .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
      val cross = newBands
        .join(corpusBands, Seq("band", "bucket"))
        .select(col("new_id"), col("corpus_id"))
      val state = Dedup.capHotBuckets(ss.read.parquet(streamBandTab))
        .select(col("doc_id").as("other_id"), col("band"), col("bucket"))
      val streamPairs = newBands
        .join(state, Seq("band", "bucket"))
        .filter(col("new_id") =!= col("other_id"))
        .select(greatest(col("new_id"), col("other_id")).as("new_id"),
          least(col("new_id"), col("other_id")).as("corpus_id"))
      val pairs = cross.unionByName(streamPairs).distinct()
      // verification joins the cached corpus — candidate-bounded work
      Dedup.verifyPairs(pairs, corpusDocs,
          "new_id", "corpus_id", 0.5)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(sinkDir)
      bb.unpersist(false)
    }
    val sinkSchema = StructType(Seq(
      StructField("new_id", LongType),
      StructField("corpus_id", LongType),
      StructField("jaccard", DoubleType),
      StructField("batch_id", LongType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .distinct() // replayed micro-batches are idempotent on pairs
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** Oracled streaming band dedup (q145): [[streamingBandDedup]]'s
    * foreachBatch band-join arithmetic run over the md5-permutation
    * banding of q95 (fixed perms, oracle-expressible) instead of the
    * xxhash64 production kernel — the q119/q120/q121 "oracled twin"
    * pattern applied to the streaming path. Every moving part crosses
    * engines: DuckDB computes the same corpus/batch split, the same
    * min-md5 signatures and band buckets, the same band equi-joins
    * (historical AND stream-vs-stream) and the same exact-Jaccard
    * verification, so the drained stream's pairs are hash-checked
    * cross-engine, not just batch-equal.
    *
    * Stream-vs-stream pairing mirrors the production path: batch bands
    * append to a state table before pairing, the batch joins the state
    * including itself, and stream-stream pairs are canonically
    * (max id, min id) — batch-split-invariant, which is exactly what
    * lets a static SQL oracle pin a streaming result: the oracle
    * predicate is `new side is a stream doc AND (other side is corpus
    * OR new_id > corpus_id)`.
    *
    * Same cross-batch cache discipline as the production path: the
    * historical band table and the verification shingle sets are
    * persisted ONCE for the life of the query; per-batch work is
    * banding the BATCH plus the candidate-bounded joins.
    */
  def streamingBandDedupOracled(spark: SparkSession, dir: String,
      batchMod: Int = 10, batchRem: Int = 9,
      stateRoot: Option[String] = None,
      corpusCap: Int = graft.operators.Dedup.BandBucketCap,
      opName: String = "band_dedup_md5"): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.Tables
    val isBatch = col("doc_id") % batchMod === batchRem
    // corpus side through the hot-bucket quarantine once per query —
    // see streamingBandDedup; the md5 twin shares the same cap so the
    // oracled path exercises the exact production plan shape. The raw
    // band table is persisted FIRST: capHotBuckets reads its argument
    // twice (bucket counts + the anti join), and without the barrier
    // the md5 shingle→band chain runs twice over the corpus (measured
    // ~0.8 s of the bench row)
    val corpusBandsRaw = Dedup.md5BandedSignatures(
        Dedup.md5ShingledDocs(Tables.documents(spark, dir).filter(!isBatch)))
      .persist()
    val corpusBands = Dedup.capHotBuckets(corpusBandsRaw, corpusCap)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket"))
      .persist()
    val allSh = Dedup.md5ShingledDocs(Tables.documents(spark, dir)).persist()
    graft.Caches.onRelease(() => {
      try corpusBandsRaw.unpersist(false) catch { case _: Throwable => () }
      try corpusBands.unpersist(false) catch { case _: Throwable => () }
      try allSh.unpersist(false) catch { case _: Throwable => () }
    })
    val root = effectiveRoot(stateRoot, opName)
    val streamBandTab = stateDir(root, "bands")
    val newDocs = streamDocuments(spark, dir).filter(isBatch)
    val sinkDir = stateDir(root, "sink")
    drain(newDocs, root) { (batch, id) =>
      val ss = batch.sparkSession
      val bb = Dedup.md5BandedSignatures(Dedup.md5ShingledDocs(batch))
        .select(col("doc_id"), col("band"), col("bucket"))
        .persist()
      StreamState.recover(ss, streamBandTab)
      bb.write.mode("append").parquet(streamBandTab)
      StreamState.maybeCompact(ss, streamBandTab,
        tag = s"$opName/bands")
      // both moving sides capped, as in the production twin
      val newBands = Dedup.capHotBuckets(bb)
        .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
      val cross = newBands
        .join(corpusBands, Seq("band", "bucket"))
        .select(col("new_id"), col("corpus_id"))
      val state = Dedup.capHotBuckets(ss.read.parquet(streamBandTab))
        .select(col("doc_id").as("other_id"), col("band"), col("bucket"))
      val streamPairs = newBands
        .join(state, Seq("band", "bucket"))
        .filter(col("new_id") =!= col("other_id"))
        .select(greatest(col("new_id"), col("other_id")).as("new_id"),
          least(col("new_id"), col("other_id")).as("corpus_id"))
      val pairs = cross.unionByName(streamPairs).distinct()
      Dedup.md5VerifyPairs(pairs, allSh, "new_id", "corpus_id", 0.5)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(sinkDir)
      bb.unpersist(false)
    }
    val sinkSchema = StructType(Seq(
      StructField("new_id", LongType),
      StructField("corpus_id", LongType),
      StructField("jaccard", DoubleType),
      StructField("batch_id", LongType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .distinct() // replayed micro-batches are idempotent on pairs
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** Streaming window dedup (q175): the q174 incremental substring
    * screen run as a STREAM, with the q116 state-append rule (r9
    * verdict): the historical corpus's window-hash set is built once
    * and cached for the life of the query (the stored artifact a
    * pipeline maintains), and each micro-batch ALSO appends its own
    * window hashes to a stream-state table BEFORE the screen — so a
    * 24/7 crawl dedups new-vs-new repeated substrings, not just
    * new-vs-history. First occurrence wins, canonically by doc_id
    * (the q145 orientation trick): a batch window is borrowed when it
    * appears in the corpus OR in a stream doc with a SMALLER doc_id
    * (same-doc repeats never self-remove, as in q167/q174), so the
    * drained result equals a static rule and is oracleable.
    *
    * Arrival-order contract: the static oracle pins the doc_id-ordered
    * drain. That is the production contract too — the reference feeds
    * batches by keyset pagination on a monotone id
    * (/root/reference/src/services/fetchContact.js:5-11), so arrival
    * order IS id order; the multi-batch spec feeds files the same way.
    *
    * Per-batch work: windowing the BATCH (row-local md5s) + one state
    * append + two hash joins (corpus set, stream min-doc state) +
    * row-local reassembly. Replays append duplicate rows; the drained
    * read dedups (and the min-doc aggregate makes replayed state rows
    * idempotent too).
    */
  def streamingWindowDedup(spark: SparkSession, dir: String,
      w: Int = 15, batchMod: Int = 10, batchRem: Int = 9,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.Tables
    val isBatch = col("doc_id") % batchMod === batchRem
    val corpusW = Dedup.windowRows(
        Dedup.tokenizedDocs(Tables.documents(spark, dir).filter(!isBatch)), w)
      .select(col("wh")).distinct()
      .withColumn("in_corpus", lit(1))
      .persist()
    graft.Caches.onRelease(() => {
      try corpusW.unpersist(false) catch { case _: Throwable => () }
    })
    // stream window state: (doc_id, wh) per batch, min-doc on read
    val root = effectiveRoot(stateRoot, "window_dedup")
    val stateTab = stateDir(root, "windows")
    val newDocs = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir).filter(isBatch)
    val sinkDir = stateDir(root, "sink")
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    drain(newDocs, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      // arrival contract first (r10 advice): seed the running max
      // from durable state on the first batch of a resumed run, then
      // fail loudly on a non-monotone batch instead of silently
      // mis-keeping; the persisted batch watermark keeps a
      // crash-replayed batch exempt across restarts (r11 advice #2)
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, stateTab).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue)
        existingStateMax(ss, stateTab, "doc_id").foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax)
      root.foreach(_ => writeBatchMarker(ss, stateTab, id))
      val toks = Dedup.tokenizedDocs(batch)
      // barrier: batch windows feed the state append and the screen
      val bw = Dedup.windowRows(toks, w).persist()
      // state append FIRST (the q116 discipline): state = earlier
      // batches ∪ this one, so within-batch and cross-batch stream
      // borrows fall out of the same min-doc rule
      bw.select(col("doc_id"), col("wh")).distinct()
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab, tag = "window_dedup/windows")
      val stateMin = ss.read.parquet(stateTab)
        .groupBy(col("wh")).agg(min(col("doc_id")).as("min_doc"))
      val removed = bw
        .join(corpusW, Seq("wh"), "left")
        .join(stateMin, Seq("wh"), "left")
        .filter(col("in_corpus").isNotNull ||
          col("min_doc") < col("doc_id"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("starts"),
          count(lit(1)).as("n_dup"))
      Dedup.reassembleUncovered(toks, removed, w)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(sinkDir)
      bw.unpersist(false)
      toks.unpersist(false)
    }
    val sinkSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType),
      StructField("n_windows", LongType),
      StructField("n_dup_windows", LongType),
      StructField("n_kept_tokens", LongType),
      StructField("keep_ratio", DoubleType),
      StructField("kept_md5", StringType),
      StructField("batch_id", LongType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .drop("batch_id")
      .distinct() // replayed micro-batches are idempotent on rows
      .orderBy(col("doc_id"))
  }

  /** Streaming IVF assignment (q149): new embeddings arrive as a
    * stream and each micro-batch is assigned to the FIXED md5-nibble
    * centroid model of q120 (`iv|c|d`, the oracled ANN twin family) —
    * the maintenance half of an ANN index at 100 TB: the trained
    * coarse quantizer is a bounded driver artifact, new vectors are
    * routed to their inverted list row-locally per batch (one
    * broadcast dot-product argmax, no shuffle but the sink append),
    * and the index grows incrementally without touching the
    * historical lists. Assignment arithmetic is the q120 `a`-CTE
    * exactly, so the drained result is hash-checked cross-engine.
    */
  def streamingIvfAssign(spark: SparkSession, dir: String,
      nlist: Int = 4, dim: Int = 64,
      batchMod: Int = 10, batchRem: Int = 9,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Similarity
    import org.apache.spark.sql.graft.VectorExpressions.dotNative
    import org.apache.spark.sql.expressions.Window
    val model = (0 until nlist).map(c =>
      (c.toLong, (0 until dim).map(d =>
        Similarity.mdNibbleVal(s"iv|$c|$d")).toSeq))
    val centDf = spark.createDataFrame(model).toDF("c", "w")
    val newVecs = streamParquet(spark, embeddingsSchema, dir,
        "embeddings.parquet")
      .filter(col("vec_id") % batchMod === batchRem)
    val root = effectiveRoot(stateRoot, "ivf_assign")
    val sinkDir = stateDir(root, "sink")
    drain(newVecs, root) { (batch, id) =>
      batch
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .crossJoin(broadcast(centDf))
        .withColumn("s", dotNative(col("v"), col("w")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("s").desc, col("c"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c").as("cid"), col("s").as("score"))
        .write.mode("append").parquet(sinkDir)
    }
    val sinkSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cid", LongType),
      StructField("score", DoubleType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .distinct() // replayed micro-batches are idempotent
      .orderBy(col("vec_id"))
  }

  /** Streaming weighted-sample maintenance (q157): the q147
    * Efraimidis–Spirakis draw run as a STREAM — each micro-batch
    * scores its documents row-locally (same md5 draw, key = ln(u)/w)
    * and folds them into a persisted running top-k state
    * (union → top-k, the associative reservoir merge), so the sample
    * is always current as the corpus grows. Top-k-by-key merge is
    * order-insensitive, so ANY batch split drains to exactly the
    * batch q147 answer — the oracle IS q147's SQL, verbatim.
    *
    * 100 TB shape: per-batch work is scoring the batch (row-local) +
    * a k-bounded merge against the k-row state table; state is
    * versioned per batch (write v{id}, read latest), so replays are
    * idempotent overwrites.
    */
  def streamingWeightedSample(spark: SparkSession, dir: String,
      k: Int = 200, stateRoot: Option[String] = None): DataFrame = {
    val root = effectiveRoot(stateRoot, "weighted_sample")
    val versRoot = stateDir(root, "versions")
    // one file per micro-batch: on the single-file fixture this is one
    // batch; the multi-batch fold (the point of the reservoir) is
    // exercised by the spec over a two-file `documents_*` corpus,
    // which the prefix glob also admits
    val newDocs = streamDocuments(spark, dir, "documents*.parquet", Some(1))
    // driver-tracked latest state version (foreachBatch runs on the
    // driver); the per-doc draw is deterministic and the merge below
    // dedups on doc_id, so even an ungated replay would be a no-op —
    // the VersionedLedger batch-id gate still skips it (uniform with
    // the non-idempotent ledger folds, and one fewer version write).
    val ledger = new VersionedLedger(spark, versRoot, root)
    drain(newDocs, root) { (batch, id) =>
      if (!ledger.isReplayed(id)) {
        val ss = batch.sparkSession
        val h = conv(substring(md5(concat(lit("ws|"),
          col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("double")
        val u = (h + lit(0.5)) / lit(math.pow(2.0, 48))
        val scored = batch
          .filter(col("n_chars") > 0)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (log(u) / col("n_chars").cast("double")).as("es_key"))
        val merged =
          if (ledger.isEmpty) scored
          else ss.read.parquet(ledger.path).unionByName(scored)
        ledger.write(merged
          // a doc appears at most once per state version: the draw is a
          // pure function of doc_id, so dropDuplicates makes even a
          // state-already-advanced replay merge idempotent (one doc can
          // never occupy two top-k slots)
          .dropDuplicates("doc_id")
          // fixed-point-rounded selection key (the q147/q151 discipline)
          .orderBy(floor(col("es_key") * lit(1e9) + lit(0.5)).cast("long")
            .desc, col("doc_id"))
          .limit(k), id)
      }
    }
    import org.apache.spark.sql.expressions.Window
    val stateSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("es_key", DoubleType)))
    val fin =
      if (ledger.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], stateSchema)
      else spark.read.parquet(ledger.path)
    fin
      .withColumn("rk", row_number().over(
        Window.orderBy(floor(col("es_key") * lit(1e9) + lit(0.5))
          .cast("long").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"),
        col("es_key"))
      .orderBy(col("rk"))
  }

  /** Keyed custom state via mapGroupsWithState: per-user running totals.
    * Cents-as-long state keeps the arithmetic exact so the oracle can
    * check it. Each micro-batch's updated states append to the delta
    * sink; the final state is the latest batch's snapshot per key
    * (distributed last-writer-wins, no driver materialization). With
    * AvailableNow this is one pass of state updates — the same shape a
    * 24/7 pipeline runs incrementally.
    */
  def statefulUserTotals(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val updated = ds
      .groupByKey(_._1)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(key, 0L, 0L))
          var n = prev.n_events
          var cents = prev.total_cents
          rows.foreach { r => n += 1; cents += r._2 }
          val next = UserAgg(key, n, cents)
          state.update(next)
          next
      }
    runToDeltaSink(spark, updated.toDF(), "state",
      root = effectiveRoot(stateRoot, "user_totals"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("batch_id"), col("n_events"), col("total_cents")))
        .as("last"))
      .select(col("user_id"),
        col("last.n_events").as("n_events"),
        col("last.total_cents").as("total_cents"))
      .orderBy(col("user_id"))
  }

  /** Streaming HLL maintenance (q223): the q222 distinct-content
    * sketch kept current as documents stream in — each micro-batch
    * folds its own (source, register) → max-rank table EXECUTOR-SIDE
    * and appends it to the register state (compacted by
    * [[StreamState]]); the drain merges registers by MAX and runs the
    * q222 estimator arithmetic. Register max is associative and
    * commutative, so ANY micro-batch split — and any replay — drains
    * to exactly the batch sketch: q222's SQL is the oracle verbatim
    * (the q157 shared-SQL pattern). This is the property that makes
    * HLL the 100 TB cardinality monitor: per-batch state is ≤
    * #sources × 256 rows regardless of batch size, and merging
    * distributed sketches is a 512-group aggregate, never a re-scan.
    *
    * The exact-count audit column re-reads the static corpus at drain
    * time (the q116 verification discipline) — a production run keeps
    * only the estimator half.
    */
  def streamingHllDistinct(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.TextOps
    import graft.sources.Tables
    val root = effectiveRoot(stateRoot, "hll_distinct")
    val stateTab = stateDir(root, "registers")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      TextOps.hllRegisters(batch)
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab, tag = "hll_distinct/registers")
    }
    val regSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("reg", LongType),
      StructField("mrho", LongType)))
    val merged = spark.read.schema(regSchema).parquet(stateTab)
      .groupBy(col("source"), col("reg"))
      .agg(max(col("mrho")).as("mrho"))
    val docs = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text").cast("binary")).as("h"))
      .persist()
    graft.Caches.onRelease(() =>
      try docs.unpersist(false) catch { case _: Throwable => () })
    TextOps.hllReport(docs, merged)
  }

  /** Streaming source-overlap maintenance (q228): the q224 bottom-k
    * minwise sketches kept current as documents stream in — each
    * micro-batch folds its own per-source bottom-k shingle-hash sketch
    * EXECUTOR-SIDE and appends it to the sketch state (compacted by
    * [[StreamState]]); the drain deduplicates and re-ranks (bottom-k
    * of a union equals bottom-k of the per-batch bottom-ks — the
    * k-minimum-values merge property) and runs the q224 pair
    * arithmetic. Like q223, ANY micro-batch split and any replay
    * drain to the batch sketch, so q224's SQL is the oracle verbatim.
    * Per-batch state is ≤ k × #sources rows regardless of batch size —
    * the property that lets a 100 TB crawl maintain its source-overlap
    * matrix without ever re-scanning shingle grain.
    *
    * The exact-audit half re-reads the static corpus at drain time
    * (the q116 verification discipline); a production run keeps only
    * the estimator half.
    */
  def streamingSourceOverlap(spark: SparkSession, dir: String,
      k: Int = 64,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.Tables
    val root = effectiveRoot(stateRoot, "source_overlap")
    val stateTab = stateDir(root, "sketch")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      Dedup.bottomKSketch(
          Dedup.shingleSetBySource(batch), k)
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab, tag = "source_overlap/sketch")
    }
    val skSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("h", StringType)))
    val merged = Dedup.bottomKSketch(
      spark.read.schema(skSchema).parquet(stateTab).distinct(), k)
    // audit half gated to the deterministic doc_id band (r10 verdict
    // #2) — the drain-time corpus re-read touches 1/auditMod of docs
    val auditMod = 5
    val docs = Tables.documents(spark, dir)
    val shAudit = Dedup.shingleSetBySource(
        docs.filter(col("doc_id") % auditMod === 0))
      .persist()
    graft.Caches.onRelease(() =>
      try shAudit.unpersist(false) catch { case _: Throwable => () })
    Dedup.overlapReport(shAudit, merged, k,
      Dedup.auditCoverage(docs, auditMod))
  }

  /** Streaming BM25 index maintenance (q229): the q130 retrieval
    * scorer's INPUT RELATIONS — per-doc lengths and query-term
    * postings — maintained as append-only state while documents
    * stream in; the drain runs q130's scoring arithmetic over the
    * accumulated state. Because every document streams exactly once,
    * the drained doclen/postings tables EQUAL the batch relations for
    * ANY micro-batch split, so q130's SQL is the oracle verbatim (the
    * q157/q223 shared-SQL pattern). This is the IR face of incremental
    * index maintenance: per-batch work is tokenizing the BATCH and
    * appending narrow (doc_id, dl) and (doc_id, term, tf) rows — the
    * corpus is never re-tokenized, df/avgdl/idf are recomputed at
    * drain from state-table aggregates (16-byte rows, never text).
    *
    * Both state tables are compacted by [[StreamState]]; replays
    * append duplicate rows and the drain's distinct restores
    * idempotence (doc_id streams once, so distinct is exact).
    */
  def streamingBm25(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "stream"),
      topK: Int = 15,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.functions.TextAnalytics
    val root = effectiveRoot(stateRoot, "bm25")
    val dlTab = stateDir(root, "doclen")
    val postTab = stateDir(root, "postings")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      val toks = batch
        .select(col("doc_id"),
          TextAnalytics.tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
        // barrier: feeds the doclen append and the postings melt
        .persist()
      StreamState.recover(ss, dlTab)
      StreamState.recover(ss, postTab)
      toks.select(col("doc_id"), col("dl"))
        .write.mode("append").parquet(dlTab)
      StreamState.maybeCompact(ss, dlTab, tag = "bm25/doclen")
      toks
        .select(col("doc_id"), col("dl"),
          explode(array(terms.map(t =>
            struct(lit(t).as("term"),
              size(filter(col("toks"), x => x === lit(t)))
                .cast("long").as("tf"))): _*)).as("x"))
        .select(col("doc_id"), col("dl"), col("x.term"), col("x.tf"))
        .filter(col("tf") > 0)
        .write.mode("append").parquet(postTab)
      StreamState.maybeCompact(ss, postTab, tag = "bm25/postings")
      toks.unpersist(false)
    }
    val dlSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", DoubleType)))
    val postSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", DoubleType),
      StructField("term", StringType), StructField("tf", LongType)))
    val dls = spark.read.schema(dlSchema).parquet(dlTab).distinct()
    val melted = spark.read.schema(postSchema).parquet(postTab).distinct()
    val stats = dls.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    val docFreq = melted.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    melted.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .orderBy(floor(col("score") * lit(1e9) + lit(0.5)).cast("long").desc,
        col("doc_id"))
      .limit(topK)
      .orderBy(col("doc_id"))
  }

  /** Streaming media feature extraction (q233): the q146 per-document
    * frame-feature aggregation run as a STREAM — each micro-batch's
    * payloads decode EXECUTOR-SIDE inside foreachBatch (`mapPartitions`
    * at the codec boundary, frames never leave the executor; the
    * decode is the same deterministic stand-in q39/q146 use) and the
    * per-doc feature rows append to a compacted state table. Docs
    * stream exactly once, so the drained state equals the batch
    * relation for ANY split and q146's SQL is the oracle verbatim —
    * the multimodal face of the shared-oracle streaming-maintenance
    * family (q157/q223/q228/q229). This is the 100 TB ingest shape for
    * media: decode once on arrival, persist bounded features, never
    * re-touch payload bytes.
    */
  def streamingFrameFeatures(spark: SparkSession, dir: String,
      frameSize: Int = 32,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Multimodal
    val root = effectiveRoot(stateRoot, "frame_features")
    val stateTab = stateDir(root, "features")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      Multimodal.frameFeaturesAggDf(batch, frameSize)
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab,
        tag = "frame_features/features")
    }
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_frames", LongType),
      StructField("frame_sums", StringType)))
    spark.read.schema(outSchema).parquet(stateTab)
      .distinct() // replayed micro-batches are idempotent on rows
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup with a persisted hash registry (q235): the
    * REFERENCE's core dedup flow — a Redis SET of seen keys probed and
    * extended per batch
    * (/root/reference/src/services/saveToPostgres.js:28,90-98 SADD +
    * membership, preloaded at /root/reference/src/services/
    * preloadRedis.js:41-52) — as its Spark streaming analogue: each
    * micro-batch appends its (doc_id, content-md5) rows to the
    * registry state (append FIRST, the q116 discipline, compacted by
    * [[StreamState]]), and a batch document is KEPT exactly when the
    * registry's min doc_id for its hash is itself — first occurrence
    * wins, canonically by id, so within-batch and cross-batch
    * duplicates fall out of one rule and the drain equals the static
    * min-per-hash keeper (q28's rule) for the id-ordered arrival the
    * reference's keyset pagination guarantees (fetchContact.js:5-11).
    * The drain annotates each keeper with its stream-wide copy count
    * from the registry — the dup-mass number the audit log tracks.
    *
    * 100 TB shape: per-batch work is hashing the BATCH + one
    * broadcast-ish join against the registry's min-per-hash view;
    * 16-byte hashes shuffle, never text; the registry is the stored
    * artifact (Redis in the reference, compacted parquet here) and
    * replays are idempotent (distinct on (doc_id, h) restores the set
    * semantics SADD has natively).
    */
  def streamingExactDedup(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None,
      stateCompactMaxFiles: Int = 32): DataFrame = {
    val root = effectiveRoot(stateRoot, "exact_dedup")
    val regTab = stateDir(root, "registry")
    val sinkDir = stateDir(root, "sink")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, regTab)
      // arrival contract (r10 advice): the first-occurrence-wins rule
      // needs monotone id arrival; seed from durable registry state
      // on resume, then fail loudly on a non-monotone batch; the
      // persisted batch watermark keeps a crash-replayed batch
      // exempt across restarts (r11 advice #2)
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, regTab).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue)
        existingStateMax(ss, regTab, "doc_id").foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax)
      root.foreach(_ => writeBatchMarker(ss, regTab, id))
      val bh = batch
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        // barrier: feeds the registry append and the keeper join
        .persist()
      bh.write.mode("append").parquet(regTab)
      StreamState.maybeCompact(ss, regTab, stateCompactMaxFiles,
        tag = "exact_dedup/registry")
      val minReg = ss.read.parquet(regTab)
        .groupBy(col("h")).agg(min(col("doc_id")).as("min_doc"))
      bh.join(minReg, Seq("h"))
        .filter(col("min_doc") === col("doc_id"))
        .select(col("doc_id"), col("h"))
        .write.mode("append").parquet(sinkDir)
      bh.unpersist(false)
    }
    val rowSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("h", StringType)))
    val copies = spark.read.schema(rowSchema).parquet(regTab)
      .distinct() // replayed appends restore SADD set semantics
      .groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    spark.read.schema(rowSchema).parquet(sinkDir)
      .distinct()
      .join(copies, Seq("h"))
      .select(col("doc_id"), col("h"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Streaming NB sufficient-statistics maintenance (q246): the q239
    * quality-classifier model kept CURRENT as documents stream in —
    * each micro-batch folds its own (token, cnt, n1, n0) count table
    * EXECUTOR-SIDE and appends it (batch-tagged) to compacted state;
    * the drain SUM-merges the counts and runs q239's vocab + weight
    * arithmetic. Counts are associative and every doc streams exactly
    * once, so ANY micro-batch split drains to the batch model — q239's
    * SQL is the oracle verbatim (the q157/q223/q228/q229 shared-SQL
    * pattern). This is the retrain-free model refresh a 24/7 curation
    * pipeline runs: per-batch work is one map-side-combined count of
    * the BATCH (vocab-sized output); the corpus is never re-tokenized.
    *
    * State rows carry their batch_id so a replayed batch appends
    * IDENTICAL rows and the drain's distinct restores idempotence
    * exactly (two different batches can legitimately produce equal
    * count rows — the tag is what keeps distinct from collapsing them).
    */
  def streamingNbTrain(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.QualityModel
    val root = effectiveRoot(stateRoot, "nb_train")
    val stateTab = stateDir(root, "counts")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      QualityModel.tokenClassCounts(
          QualityModel.flagged(batch))
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab, tag = "nb_train/counts")
    }
    val cntSchema = StructType(Seq(
      StructField("token", StringType),
      StructField("cnt", LongType),
      StructField("n1", LongType),
      StructField("n0", LongType),
      StructField("batch_id", LongType)))
    val merged = spark.read.schema(cntSchema).parquet(stateTab)
      .distinct() // replayed batch-tagged rows restore idempotence
      .groupBy(col("token"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("n1")).as("n1"),
        sum(col("n0")).as("n0"))
    QualityModel.weightsFromCounts(merged).orderBy(col("token"))
  }

  /** Streaming dup-substring ladder maintenance (q251): the q243
    * ladder kept current as documents stream in — each micro-batch
    * appends its per-rung (w, doc_id, wh) window hashes and its
    * (doc_id, n_tokens) lengths to compacted state; the drain feeds
    * the drained relations into the SAME q243 assembly. Window sets
    * are append-only facts and every doc streams once, so ANY split
    * drains to the batch ladder — q243's SQL is the oracle verbatim
    * (the q157/q223/q228/q229/q246 shared-SQL pattern). Unlike the
    * min-doc keepers (q175/q235), the ≥2-distinct-docs rule is
    * ORDER-INSENSITIVE, so this operator needs no arrival contract.
    *
    * 100 TB shape: per-batch work is windowing the BATCH (row-local
    * md5s) + two narrow appends; 16-byte hashes shuffle, never text;
    * the drain's per-rung aggregates are hash-keyed.
    */
  def streamingDupLadder(spark: SparkSession, dir: String,
      rungs: Seq[Int] = Seq(10, 20, 40, 80),
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Dedup
    val root = effectiveRoot(stateRoot, "dup_ladder")
    val winTab = stateDir(root, "windows")
    val lenTab = stateDir(root, "lengths")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, winTab)
      StreamState.recover(ss, lenTab)
      val toks = Dedup.tokenizedDocs(batch)
      toks.select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"))
        .write.mode("append").parquet(lenTab)
      rungs.map(rw => Dedup.windowRows(toks, rw)
          .select(lit(rw.toLong).as("w"), col("doc_id"), col("wh"))
          .distinct())
        .reduce(_.unionByName(_))
        .write.mode("append").parquet(winTab)
      StreamState.maybeCompact(ss, lenTab, tag = "dup_ladder/lengths")
      StreamState.maybeCompact(ss, winTab, tag = "dup_ladder/windows")
      toks.unpersist(false)
    }
    val lenSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType)))
    val winSchema = StructType(Seq(
      StructField("w", LongType),
      StructField("doc_id", LongType),
      StructField("wh", StringType)))
    val lens = spark.read.schema(lenSchema).parquet(lenTab)
      .distinct() // replays restore idempotence (doc_id streams once)
    val wins = spark.read.schema(winSchema).parquet(winTab)
      .distinct()
      // barrier: all four rung reads share one state scan
      .persist()
    graft.Caches.onRelease(() =>
      try wins.unpersist(false) catch { case _: Throwable => () })
    Dedup.ladderAssemble(lens,
      rw => wins.filter(col("w") === rw.toLong)
        .select(col("doc_id"), col("wh")),
      rungs)
  }

  /** Write `docs` as `nSplits` id-range parquet files under a tracked
    * temp dir with PINNED ascending mtimes — a deterministic
    * multi-batch stream source mirroring the reference's keyset-
    * pagination arrival order
    * (/root/reference/src/services/fetchContact.js:5-11). File k holds
    * doc_ids in [lo + k·span, lo + (k+1)·span) with
    * span = (hi − lo + nSplits) div nSplits (the last file extends to
    * hi), so with `maxFilesPerTrigger = 1` micro-batch k is EXACTLY
    * the k-th id range — arithmetic a DuckDB oracle can reproduce
    * (`(doc_id − lo) // span`), which is what makes batch-DEPENDENT
    * facts (lineage manifests, first-writer provenance) oracle-able.
    * The mtime epoch is fixed: only the order matters.
    */
  private[graft] def idRangeSplitSource(spark: SparkSession,
      docsRaw: DataFrame, nSplits: Int): String = {
    val docs = docsRaw.persist()
    val srcRoot = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_idsplit_src_")).toString
    // the min/max collect also materializes the cache the slice
    // writers read, so the overlapped legs below never race to build it
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, (hi - lo + nSplits) / nSplits)
    val baseMtime = 1700000000000L
    new java.io.File(s"$srcRoot/stream").mkdirs()
    // the slice writes are independent single-partition jobs over the
    // cached relation — overlap them (guide §2.6, the Par discipline),
    // each through its OWN staging dir; arrival order is pinned by the
    // deterministic mtimes set after every move, never by write order
    graft.operators.Par.seq((0 until nSplits).map(k => () => {
      val upper = if (k == nSplits - 1) hi + 1 else lo + (k + 1) * span
      docs.filter(col("doc_id") >= lo + k * span && col("doc_id") < upper)
        .coalesce(1).write.mode("overwrite").parquet(s"$srcRoot/w$k")
      // a sparse doc_id space can leave an id-range slice EMPTY, and
      // an empty 1-partition write may produce no part file at all —
      // fail with the range rather than an opaque NoSuchElement (the
      // batch numbering contract needs every slice to be a real file)
      val part = new java.io.File(s"$srcRoot/w$k").listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(
          s"idRangeSplitSource: slice $k (doc_id in [${lo + k * span}, " +
            s"$upper)) produced no parquet part file — empty id range?"))
      val dest = new java.io.File(s"$srcRoot/stream/s$k.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      // id-ordered arrival (the exact-dedup contract): ascending mtimes
      dest.setLastModified(baseMtime + k * 60000L)
    }))(_.apply())
    docs.unpersist(false)
    s"$srcRoot/stream"
  }

  /** Compaction telemetry as a query (q242) — the q168 skew-telemetry
    * discipline applied to the state LIFECYCLE (r10 verdict #5): a
    * 24/7 operator needs to SEE state health (files collapsing, rows
    * deduped), not trust it. The query drives the reference dedup flow
    * (q235's registry) over a deterministic id-range file split with a
    * tiny compaction threshold, forces a drain-time compaction, and
    * emits the final telemetry row for the registry table. The emitted
    * `rows_after` is data-deterministic — every document registers
    * exactly once, so the compacted registry holds one row per
    * document — which is what lets a DuckDB oracle pin a lifecycle
    * fact. The full event stream (files/bytes before and after, per
    * mid-run compaction) is the [[StreamState.telemetryDf]] surface,
    * pinned by Wave7Spec.
    */
  def compactionTelemetry(spark: SparkSession, dir: String,
      nSplits: Int = 4): DataFrame = {
    import graft.sources.Tables
    val tag = "telemetry_probe/registry"
    val probeRoot = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_teleprobe_state_")).toString
    val streamDir = idRangeSplitSource(spark,
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")),
      nSplits)
    // drain the registry flow with a threshold small enough that
    // mid-run compactions actually fire on the 4-batch run
    streamingExactDedup(spark, dir,
      sourceDir = Some(streamDir), sourceGlob = "*.parquet",
      maxFilesPerTrigger = Some(1),
      stateRoot = Some(probeRoot), stateCompactMaxFiles = 2).count()
    // drain-time forced compaction: its telemetry row is the
    // data-deterministic one (registry = one row per document)
    StreamState.maybeCompact(spark, s"$probeRoot/registry",
      force = true, tag = tag)
    val ev = StreamState.telemetry.filter(_.table == tag).last
    import spark.implicits._
    Seq((tag, ev.rows_after)).toDF("state_table", "rows_after")
      .orderBy(col("state_table"))
  }

  /** Streaming vocabulary maintenance (q128): the q126 tf/df table
    * kept current as new documents stream in. Historical documents
    * build the stored vocab artifact once; the rest arrive as a
    * stream, and each micro-batch MERGES its own token aggregation
    * into the table — tf adds, and df adds too because document
    * batches are disjoint (each doc_id streams exactly once), which is
    * the mergeability contract an incremental vocab pipeline relies
    * on. Merges write batch-versioned table snapshots (an idempotent
    * replayed batch overwrites its own version, never double-appends).
    * The drained result equals the batch vocab over the full corpus,
    * which the DuckDB oracle checks directly (the q36/q89
    * streaming-oracle pattern).
    *
    * 100 TB shape: per micro-batch work is one map-side-combined
    * aggregation of the BATCH (vocab-sized, not corpus-sized) plus a
    * vocab⋈vocab merge; the corpus is never rescanned. A real
    * deployment would keep the table in a keyed store or Delta MERGE —
    * the dataflow per batch is identical.
    */
  def streamingVocab(spark: SparkSession, dir: String,
      batchMod: Int = 10, batchRem: Int = 9,
      stateRoot: Option[String] = None): DataFrame = {
    val isBatch = col("doc_id") % batchMod === batchRem
    def vocabOf(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(
        graft.functions.TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val root = effectiveRoot(stateRoot, "vocab")
    val versRoot = stateDir(root, "versions")
    // resume (durable root): seed from the latest persisted version and
    // skip rebuilding the historical artifact — it is already folded in
    val ledger = new VersionedLedger(spark, versRoot, root)
    if (ledger.isEmpty)
      ledger.init(vocabOf(Tables.documents(spark, dir).filter(!isBatch)))
    val newDocs = streamDocuments(spark, dir).filter(isBatch)
    drain(newDocs, root) { (batch, id) =>
      // tf/df SUM-merge is not idempotent: the ledger gate skips a
      // crash-replayed batch already folded into the resumed version
      // (r11 advice #1); the historical init makes the ledger non-empty
      ledger.fold(id, vocabOf(batch))(_.groupBy(col("token"))
        .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df")))
    }
    spark.read.parquet(ledger.path)
      .select(col("token"), col("tf"), col("df"))
      .orderBy(col("token"))
  }

  /** Streaming incremental connected components (q196): the capstone
    * fusion of the streaming band dedup (q116/q145) and the
    * contract-then-solve incremental CC (q193) — a 24/7 crawl
    * maintaining LIVE duplicate-cluster labels. Per micro-batch: the
    * batch's md5 bands append to the band state table (so later
    * batches pair against earlier ones — and itself, for within-batch
    * pairs), candidates are exact-Jaccard verified, historical
    * endpoints contract through the persisted label artifact, CC runs
    * on the DELTA-sized contracted graph, and the composed labels are
    * written as the next artifact version. Every pair of the full q95
    * pair set is generated exactly when its later endpoint arrives, and
    * min-label composition is associative over batch arrival order, so
    * the drained labels equal the from-scratch closure — q193's full
    * recursive-CTE SQL is the oracle verbatim, for ANY micro-batching
    * (the spec drives a 3-file split).
    *
    * 100 TB shape: per-batch work = banding the batch + candidate
    * joins against the band artifact + a CC whose node set is (touched
    * prior labels ∪ batch ids), not the corpus. The corpus-wide
    * shingle cache exists only because verification here re-reads the
    * fixture; a production run verifies against the stored shingle/
    * signature artifact the same way the band table is stored.
    */
  def streamingIncrementalCC(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.Tables
    import org.apache.spark.sql.expressions.Window
    val allSh = Dedup.md5ShingledDocs(Tables.documents(spark, dir)).persist()
    graft.Caches.onRelease(() =>
      try allSh.unpersist(false) catch { case _: Throwable => () })
    val root = effectiveRoot(stateRoot, "incremental_cc")
    val bandTab = stateDir(root, "bands")
    val labRoot = stateDir(root, "labels")
    val ledger = new VersionedLedger(spark, labRoot, root)
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      // label composition over already-composed labels is idempotent,
      // but a replayed batch would re-APPEND its bands (duplicate
      // state rows inflate capHotBuckets' counts) and could re-union
      // already-labeled ids — skip the whole fold (r11 advice #1)
      if (!ledger.isReplayed(id)) {
        val ss = batch.sparkSession
        val batchIds = batch.select(col("doc_id"))
        val bBands = Dedup.md5BandedSignatures(
          Dedup.md5ShingledDocs(batch)).persist()
        // state append FIRST: state = earlier batches ∪ this one
        StreamState.recover(ss, bandTab)
        bBands.write.mode("append").parquet(bandTab)
        StreamState.maybeCompact(ss, bandTab, tag = "incremental_cc/bands")
        // the state table is a growing self-side: cap per read, and
        // cap the batch side on its own frequencies (r9 verdict — the
        // uncapped cross-side joins were the remaining LSH skew bomb).
        // distinct first: a crash between the band append and the label
        // commit leaves this batch's bands appended twice on replay,
        // and duplicated rows would inflate the hot-bucket counts
        // (persisted — capHotBuckets reads its argument twice)
        val stateBands = ss.read.parquet(bandTab).distinct().persist()
        val state = Dedup.capHotBuckets(stateBands)
          .select(col("doc_id").as("other_id"), col("band"), col("bucket"))
        val cand = Dedup.capHotBuckets(bBands)
          .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
          .join(state, Seq("band", "bucket"))
          .filter(col("new_id") =!= col("other_id"))
          .select(least(col("new_id"), col("other_id")).as("id_a"),
            greatest(col("new_id"), col("other_id")).as("id_b"))
          .distinct()
        val pairs = Dedup.md5VerifyPairs(cand, allSh, "id_a", "id_b", 0.5)
          .select(col("id_a"), col("id_b"))
        val newLabels =
          if (ledger.isEmpty)
            Dedup.connectedComponents(
              pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
              Some(batchIds.select(col("doc_id").as("id"))))
          else {
            val prior = ss.read.parquet(ledger.path)
            val contracted = pairs
              .join(prior.select(col("id").as("id_a"),
                col("label").as("la")), Seq("id_a"), "left")
              .join(prior.select(col("id").as("id_b"),
                col("label").as("lb")), Seq("id_b"), "left")
              .select(coalesce(col("la"), col("id_a")).as("src"),
                coalesce(col("lb"), col("id_b")).as("dst"))
              .filter(col("src") =!= col("dst"))
            val nodes = prior.select(col("label").as("id")).distinct()
              .unionByName(batchIds.select(col("doc_id").as("id")))
            val delta = Dedup.connectedComponents(contracted, Some(nodes))
            val dm = delta.select(col("id").as("l0"), col("label").as("lfin"))
            prior.join(dm, prior("label") === dm("l0"))
              .select(col("id"), col("lfin").as("label"))
              .unionByName(batchIds
                .join(dm, col("doc_id") === dm("l0"))
                .select(col("doc_id").as("id"), col("lfin").as("label")))
          }
        ledger.write(newLabels, id)
        stateBands.unpersist(false)
        bBands.unpersist(false)
      }
    }
    spark.read.parquet(ledger.path)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .orderBy(col("doc_id"))
  }

  /** Streaming SCD2 maintenance (q203): the q201 type-2 history kept
    * LIVE as event batches arrive — the streaming MERGE every
    * warehouse dimension pipeline runs. Per micro-batch: the
    * artifact's OPEN versions seed the recompute (each seed re-enters
    * as a synthetic event carrying its original opener timestamp,
    * event id and version number), the seed∪batch per-user chains are
    * re-derived with the same lag/row_number/lead arithmetic as q201,
    * version numbers continue from each seed, and the new artifact is
    * closed-prior-rows ∪ recomputed-rows. With time-ordered batch
    * arrival (the log-shipping reality) the drained artifact equals
    * the from-scratch q201 history — its SQL is the oracle verbatim,
    * and the spec drives a 3-way chronological split.
    *
    * 100 TB shape: per-batch work is one (user)-partitioned window
    * over seeds∪batch (seeds = at most one OPEN row per active user —
    * the dimension's current image, exactly what a warehouse keeps
    * hot); closed history is append-only and never re-read beyond the
    * artifact swap.
    */
  def streamingScd2(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.Tables
    val root = effectiveRoot(stateRoot, "scd2")
    val histRoot = stateDir(root, "history")
    val ledger = new VersionedLedger(spark, histRoot, root)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      // the seed∪batch recompute is not idempotent (a replayed
      // batch's events already close the open seeds): skip a
      // crash-replayed batch (r11 advice #1)
      if (!ledger.isReplayed(id)) {
        val ss = batch.sparkSession
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val batchEv = batch
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("base_v", lit(null).cast("long"))
        val uni =
          if (ledger.isEmpty) batchEv
          else ss.read.parquet(ledger.path)
            .filter(col("valid_to_ts").isNull)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("attr").as("event_type"), col("version").as("base_v"))
            .unionByName(batchEv)
        val offsets = uni.groupBy(col("user_id"))
          .agg(coalesce(max(col("base_v")), lit(1L)).as("v0"))
        val recomputed = uni
          .withColumn("prev", lag(col("event_type"), 1).over(byUser))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("rn", row_number().over(byUser))
          .withColumn("valid_to_ts", lead(col("ts"), 1).over(byUser))
          .join(offsets, "user_id")
          .select(col("user_id"),
            (col("rn") + col("v0") - 1).cast("long").as("version"),
            col("event_type").as("attr"), col("ts"), col("event_id"),
            col("valid_to_ts"))
        val artifact =
          if (ledger.isEmpty) recomputed
          else ss.read.parquet(ledger.path)
            .filter(col("valid_to_ts").isNotNull)
            .unionByName(recomputed)
        ledger.write(artifact, id)
      }
    }
    spark.read.parquet(ledger.path)
      .select(col("user_id"), col("version"), col("attr"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("valid_to"),
        when(col("valid_to_ts").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Streaming decontamination (q185): the q80 eval-set n-gram screen
    * run as a 24/7 ingest gate — the eval/benchmark side is FIXED (its
    * distinct gram hashes computed once and cached for the life of the
    * query), training documents arrive as a stream, and every
    * micro-batch is shingled executor-side and broadcast-joined
    * against the eval grams; (train, eval, shared-gram-count) pairs at
    * the q80 threshold append to the sink. Because the reference side
    * never moves, ANY micro-batching of the train stream drains to
    * exactly the batch screen's answer — q80's SQL is the oracle
    * verbatim (the q174/q175 pattern).
    *
    * 100 TB shape: per-batch work is shingling the BATCH (native
    * one-pass kernel, grams cross the join as xxhash64 longs — q80's
    * own discipline) plus a broadcast join against the eval gram set
    * (eval suites are small by construction; a multi-GB eval side
    * would flip to the shuffle join, same arithmetic).
    */
  def streamingDecontamination(spark: SparkSession, dir: String,
      minShared: Int = 2, stateRoot: Option[String] = None): DataFrame = {
    val isEval = col("doc_id") % 100 === 0
    def grams(df: DataFrame, idAlias: String): DataFrame = df
      .select(col("doc_id").as(idAlias),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .shingleHashes(col("text"), 3)).as("gh"))
    val evalGrams = grams(
      graft.sources.Tables.documents(spark, dir).filter(isEval), "eval_id")
      .distinct().persist()
    graft.Caches.onRelease(() =>
      try evalGrams.unpersist(false) catch { case _: Throwable => () })
    val root = effectiveRoot(stateRoot, "decontamination")
    val sinkDir = stateDir(root, "sink")
    val trainStream = streamDocuments(spark, dir).filter(!isEval)
    drain(trainStream, root) { (batch, id) =>
      grams(batch, "train_id")
        .join(broadcast(evalGrams), "gh")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(countDistinct(col("gh")).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .write.mode("append").parquet(sinkDir)
    }
    val sinkSchema = StructType(Seq(
      StructField("train_id", LongType),
      StructField("eval_id", LongType),
      StructField("n_shared", LongType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .distinct() // replayed micro-batches are idempotent on pairs
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Streaming quality gate (q182): the whole corpus arrives as a
    * stream and every micro-batch is screened by the q24 composite
    * quality rule EXECUTOR-SIDE; a tiny per-source acceptance ledger
    * (seen, passed) is folded forward batch over batch — the live
    * admission dashboard a 24/7 ingest runs (a source whose acceptance
    * rate craters mid-crawl is a feed gone bad, caught while the crawl
    * is running, not after). The drained ledger equals the batch
    * aggregate regardless of how the stream was micro-batched — the
    * merge is a sum of per-source counts, associative and commutative —
    * which is exactly what lets a static SQL oracle pin a streaming
    * result.
    *
    * 100 TB shape: the rule is row-local inside the batch scan; the
    * per-batch aggregate is map-side combined down to ≤|sources| rows;
    * state is that same tiny relation re-written per batch (the
    * q128 versioned-parquet ledger pattern — at production scale this
    * is the metadata table next to the ingest, not a data-scale
    * artifact).
    */
  def streamingQualityGate(spark: SparkSession, dir: String,
      stateRoot: Option[String] = None): DataFrame = {
    def screen(docs: DataFrame): DataFrame = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seen"),
        sum(graft.functions.TextAnalytics.qualityFlag(col("text")))
          .as("n_pass"))
    // count SUM-merge is not idempotent: the ledger gate skips a
    // crash-replayed batch already folded in (r11 advice #1)
    mergedState(spark, streamDocuments(spark, dir), "quality_gate",
        "ledger", stateRoot)(screen)(
        _.groupBy(col("source")).agg(sum(col("n_seen")).as("n_seen"),
          sum(col("n_pass")).as("n_pass")))
      .select(col("source"), col("n_seen"), col("n_pass"),
        (col("n_pass").cast("double") / col("n_seen").cast("double"))
          .as("accept_rate"))
      .orderBy(col("source"))
  }

  /** Streaming EWMA anomaly maintenance (q210): the q208 exponential-
    * decay rate monitor kept live over an event stream. State is the
    * tiny (event_type, day, n) daily-count ledger — each micro-batch's
    * counts SUM-merge into it (associative + commutative, so ANY
    * micro-batching drains to the batch table, the q182 ledger
    * argument), and the drained ledger feeds the exact q208 window
    * arithmetic. q208's oracle SQL is this query's oracle verbatim.
    *
    * 100 TB shape: per-batch work is one map-side-combined aggregate
    * down to ≤ days×types rows; state is that same metadata-scale
    * relation re-written per batch (versioned-parquet ledger). The
    * EWMA pass runs once at drain over days×types rows — never the
    * event volume.
    */
  def streamingEwmaAnomaly(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    def daily(ev: DataFrame): DataFrame = ev
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    // daily-count SUM-merge is not idempotent: the ledger gate skips a
    // crash-replayed batch already folded in (r11 advice #1)
    graft.operators.Analytics.ewmaFromDaily(
      mergedState(spark, streamEvents(spark, dir, sourceGlob,
          maxFilesPerTrigger, sourceDir), "ewma_anomaly", "ledger",
          stateRoot)(daily)(
        _.groupBy(col("event_type"), col("day")).agg(sum(col("n")).as("n"))))
  }

  /** Streaming last-touch attribution (q215): q214 run as a live
    * ingest — per-user "latest click" state (one (ts, event_id) pair
    * per user, the as-of state a 24/7 attribution service keeps) is
    * folded forward batch over batch; each batch's purchases are
    * attributed against state ∪ in-batch earlier clicks by replaying
    * the q214 window over the batch with the state injected as
    * synthetic click rows CARRYING THEIR ORIGINAL (ts, event_id) —
    * preserving the batch query's tie-ordering exactly, so any
    * time-ordered micro-batching drains to q214's daily rollup and
    * q214's SQL is the oracle verbatim.
    *
    * 100 TB shape: per-batch work is one window over the batch plus a
    * max-merge into per-user state (users ≪ events); the daily ledger
    * sum-merges like q210. State is two longs per user.
    */
  def streamingAttribution(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = effectiveRoot(stateRoot, "attribution")
    val clicksRoot = stateDir(root, "clicks")
    val ledgerRoot = stateDir(root, "ledger")
    // two state tables, one gate each: the daily ledger commits FIRST,
    // the click state second, so on a crash between the two commits
    // the replayed batch skips only the ledger fold and the click fold
    // still sees its correct pre-batch state (r11 advice #1)
    val clickLedger = new VersionedLedger(spark, clicksRoot, root)
    val dailyLedger = new VersionedLedger(spark, ledgerRoot, root)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      val ev = batch.select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value"))
      // state clicks re-enter with their ORIGINAL (ts, event_id) so
      // the window's tie-break matches the batch query
      val synth =
        if (clickLedger.isEmpty) ev.limit(0)
        else ss.read.parquet(clickLedger.path)
          .select(col("user_id"), col("ts"), col("event_id"),
            lit("click").as("event_type"), lit(0.0).as("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val batchDaily = ev.unionByName(synth)
        .withColumn("last_click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("att",
          when(col("last_click_ts").isNotNull &&
            col("ts") <= col("last_click_ts") +
              expr("INTERVAL 1 HOUR"), 1L).otherwise(0L))
        .withColumn("cents",
          floor(col("value") * 100 + lit(0.5)).cast("long"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("att")).as("n_attributed"),
          sum(when(col("att") === 1L, col("cents")).otherwise(0L))
            .as("attributed_cents"))
      // daily SUM-merge is not idempotent: gate on the ledger's own
      // replay watermark
      dailyLedger.fold(id, batchDaily)(_.groupBy(col("day"))
        .agg(sum(col("n_purchases")).as("n_purchases"),
          sum(col("n_attributed")).as("n_attributed"),
          sum(col("attributed_cents")).as("attributed_cents")))
      // fold batch clicks into per-user latest-click state:
      // lexicographic max on (ts, event_id) — the max-merge is
      // idempotent, but the gate still skips the redundant version
      if (!clickLedger.isReplayed(id)) {
        val batchClicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val allClicks =
          if (clickLedger.isEmpty) batchClicks
          else ss.read.parquet(clickLedger.path).unionByName(batchClicks)
        val latest = allClicks
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("rk") === 1).drop("rk")
        clickLedger.write(latest, id)
      }
    }
    spark.read.parquet(dailyLedger.path)
      .select(col("day").cast("string").as("day"), col("n_purchases"),
        col("n_attributed"),
        (col("n_attributed").cast("double") /
          col("n_purchases").cast("double")).as("attribution_rate"),
        col("attributed_cents"))
      .orderBy(col("day"))
  }

  /** Streaming heavy hitters (q213): a capacity-bounded SpaceSaving-
    * style summary of per-user event counts maintained live — the
    * state a 24/7 ingest keeps when the key domain is too large to
    * count exactly. Per batch: exact batch counts sum-merge into the
    * summary; keys beyond `capacity` are EVICTED lowest-count-first
    * and the summary records the cumulative eviction floor — a key
    * (re-)entering later starts from `batch count + floor` with
    * `err = floor`, the classic overestimate bound (true count ∈
    * [cnt − err, cnt]). With capacity ≥ distinct keys (the fixture
    * contract, asserted by the final `err = 0` column) no eviction
    * ever fires and the drained top-k IS the exact batch top-k — which
    * is what lets a static SQL oracle pin a sketch query; the
    * eviction path is exercised by the Wave5Spec tiny-capacity golden.
    *
    * 100 TB shape: per-batch work is one map-side-combined count plus
    * a join against the ≤capacity-row summary; state is metadata-sized
    * (capacity rows + a one-row floor), never the key domain.
    */
  def streamingHeavyHitters(spark: SparkSession, dir: String,
      capacity: Int = 4096, k: Int = 20,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = effectiveRoot(stateRoot, "heavy_hitters")
    val ledgerRoot = stateDir(root, "summary")
    val ledger = new VersionedLedger(spark, ledgerRoot, root)
    val floorRef = new java.util.concurrent.atomic.AtomicLong(0L)
    // the eviction floor is part of the summary's semantics — it rides
    // IN the version's own rows (a constant `floor` column), so
    // version + floor commit atomically: no sidecar-write window can
    // leave a committed summary whose resume silently resets the
    // eviction floor to 0 (r11 advice #3). The read fails loudly on a
    // floor-less version instead of swallowing the corruption. A
    // rows-empty version can only exist before any eviction (eviction
    // implies capacity+1 rows existed), so floor 0 is exact there.
    ledger.resumedFrom.foreach { v =>
      val r = spark.read.parquet(v).agg(max(col("floor"))).collect()(0)
      if (!r.isNullAt(0)) floorRef.set(r.getLong(0))
    }
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      // count SUM-merge is not idempotent: skip a crash-replayed
      // batch already folded into the resumed version (r11 advice #1)
      if (!ledger.isReplayed(id)) {
        val ss = batch.sparkSession
        val floor = floorRef.get
        val bc = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("bn"))
        val merged =
          (if (ledger.isEmpty)
            bc.select(col("user_id"),
              (col("bn") + lit(floor)).as("cnt"), lit(floor).as("err"))
          else ss.read.parquet(ledger.path)
            .join(bc, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              // known key: add the batch count; new key: enter at
              // batch count + floor with err = floor
              (coalesce(col("cnt"), lit(floor)) +
                coalesce(col("bn"), lit(0L))).as("cnt"),
              coalesce(col("err"), lit(floor)).as("err")))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cnt").desc, col("user_id"))))
        val kept = merged.filter(col("rk") <= capacity).drop("rk")
        val evictMax = merged.filter(col("rk") > capacity)
          .agg(max(col("cnt"))).collect()(0)
        if (!evictMax.isNullAt(0))
          floorRef.set(math.max(floor, evictMax.getLong(0)))
        ledger.write(kept.withColumn("floor", lit(floorRef.get)), id)
      }
    }
    spark.read.parquet(ledger.path)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("user_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("user_id"), col("cnt").as("n_events"),
        col("err"))
      .orderBy(col("rank"))
  }

  /** Streaming event debounce (q261): q257's retry-burst screen run as
    * a live ingest. State is one row per (user, type) — the latest raw
    * event's (ts, event_id), exactly what the lag rule needs at a
    * batch boundary — injected into each batch as a synthetic previous
    * event (the q215 state-reentry pattern) so the shared
    * [[graft.operators.Analytics.debounceFlags]] window decides
    * within-batch and cross-batch suppression by ONE rule. Per-type
    * counts sum-merge through a gated versioned ledger and drain to
    * q257's exact rollup — its SQL is the oracle verbatim for any
    * time-ordered micro-batching. The lag rule is order-SENSITIVE, so
    * the batchOrderGuard arrival contract (on event_id, with the
    * persisted cross-restart watermark) protects it; the counts ledger
    * commits BEFORE the last-event state (the q215 two-table order) so
    * every crash point replays exactly.
    *
    * 100 TB shape: per-batch work is one (user, type) window over the
    * BATCH ∪ #active-keys synthetic rows and two metadata-scale ledger
    * writes; nothing rescans history.
    */
  def streamingDebounce(spark: SparkSession, dir: String,
      gapSeconds: Long = 3600L,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    val root = effectiveRoot(stateRoot, "debounce")
    val countsRoot = stateDir(root, "counts")
    val lastRoot = stateDir(root, "last_event")
    val countsLedger = new VersionedLedger(spark, countsRoot, root)
    val lastLedger = new VersionedLedger(spark, lastRoot, root)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      // arrival contract on event_id (the lag rule is order-
      // sensitive); watermark persisted beside the last-event ledger
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, lastRoot).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue && !lastLedger.isEmpty)
        existingStateMax(ss, lastLedger.path, "event_id")
          .foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax,
        idCol = "event_id")
      root.foreach(_ => writeBatchMarker(ss, lastRoot, id))
      val ev = batch
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("is_state", lit(0))
      val synth = lastEventAnchors(ss, lastLedger, ev)
      val flagged = graft.operators.Analytics
        .debounceFlags(ev.unionByName(synth), gapSeconds)
        .filter(col("is_state") === 0)
      val bCounts = flagged
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("suppressed")).as("n_suppressed"))
      // counts first (non-idempotent sum-merge), state second: a
      // crash between the two commits replays into a skipped counts
      // fold + a state fold that still sees its pre-batch image
      countsLedger.fold(id, bCounts)(_.groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("n_suppressed")).as("n_suppressed")))
      foldLastEvents(ss, lastLedger, ev, id)
    }
    spark.read.parquet(countsLedger.path)
      .select(col("event_type"), col("n_events"), col("n_suppressed"),
        (col("n_events") - col("n_suppressed")).as("n_kept"),
        ((col("n_events") - col("n_suppressed")).cast("double") /
          col("n_events").cast("double")).as("kept_rate"))
      .orderBy(col("event_type"))
  }

  /** State anchors for a lag-rule twin: the persisted last raw event
    * per (user, type), re-entering the batch as `is_state` = 1 rows —
    * lag anchors only, filtered out of every rollup. Empty before the
    * first fold.
    */
  private def lastEventAnchors(ss: SparkSession,
      ledger: VersionedLedger, ev: DataFrame): DataFrame =
    if (ledger.isEmpty) ev.limit(0)
    else ss.read.parquet(ledger.path).withColumn("is_state", lit(1))

  /** Replace-merge the last raw event per key into `ledger` (gated
    * against crash replays) — shared by every lag-rule twin: q261
    * debounce and q262 gap histogram anchor per (user, type), q269
    * transitions per user.
    */
  private def foldLastEvents(ss: SparkSession, ledger: VersionedLedger,
      ev: DataFrame, id: Long,
      keys: Seq[String] = Seq("user_id", "event_type")): Unit =
    if (!ledger.isReplayed(id)) {
      val batchLast = ev.drop("is_state")
      val allLast =
        if (ledger.isEmpty) batchLast
        else ss.read.parquet(ledger.path).unionByName(batchLast)
      val carried = batchLast.columns.filterNot(keys.contains)
      ledger.write(allLast
        .groupBy(keys.map(col): _*)
        .agg(max(struct(col("ts") +: col("event_id") +:
          carried.filterNot(Set("ts", "event_id")).map(col): _*))
          .as("m"))
        .select(keys.map(col) ++
          carried.map(c => col(s"m.$c").as(c)): _*), id)
    }

  /** Streaming inter-event gap histogram (q262): q260 per micro-batch.
    * Cross-batch gaps need exactly ONE anchor — the last raw event per
    * (user, type) — so that state re-enters each batch as synthetic
    * previous rows (the q261 pattern; `is_state` rows anchor the lag
    * but never count) and the SAME q260 bucket rule scores within- and
    * cross-batch gaps. Count/min/max/sum per (type, bucket) are all
    * associative+commutative, so per-batch partials sum/min/max-merge
    * through a gated versioned ledger and the drain equals q260's
    * batch answer for ANY micro-batching — q260's SQL is the oracle
    * verbatim. Order-sensitive (a late event would pair against the
    * wrong anchor): the arrival contract on event_id applies, with the
    * persisted batch watermark keeping crash replays exempt.
    *
    * 100 TB shape: state is (users × types) last-event rows plus a
    * ≤ types × ~40-bucket histogram; per-batch work is one keyed
    * window over batch ∪ anchors and two metadata-scale merges.
    */
  def streamingGapHistogram(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    val root = effectiveRoot(stateRoot, "gaphist")
    val histRoot = stateDir(root, "hist")
    val lastRoot = stateDir(root, "last_event")
    val histLedger = new VersionedLedger(spark, histRoot, root)
    val lastLedger = new VersionedLedger(spark, lastRoot, root)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, lastRoot).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue && !lastLedger.isEmpty)
        existingStateMax(ss, lastLedger.path, "event_id")
          .foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax,
        idCol = "event_id")
      root.foreach(_ => writeBatchMarker(ss, lastRoot, id))
      val ev = batch
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("is_state", lit(0))
      val synth = lastEventAnchors(ss, lastLedger, ev)
      val bHist = graft.operators.Analytics.gapRollup(
        graft.operators.Analytics.gapBuckets(ev.unionByName(synth)))
      // histogram first (non-idempotent merge), anchors second: a
      // crash between the two commits replays into a skipped
      // histogram fold + an anchor fold off its pre-batch image
      histLedger.fold(id, bHist)(_.groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("n_gaps")).as("n_gaps"),
          min(col("min_gap_sec")).as("min_gap_sec"),
          max(col("max_gap_sec")).as("max_gap_sec"),
          sum(col("sum_gap_sec")).as("sum_gap_sec")))
      foldLastEvents(ss, lastLedger, ev, id)
    }
    spark.read.parquet(histLedger.path)
      .select(col("event_type"), col("bucket"), col("n_gaps"),
        col("min_gap_sec"), col("max_gap_sec"), col("sum_gap_sec"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Streaming per-source deciles (q263): q200 per micro-batch. The
    * (source, n_chars) VALUE HISTOGRAM is the mergeable sufficient
    * statistic for exact rank selection — each batch's histogram
    * sum-merges into the ledger state (gated against crash replays)
    * and the drain walks the cumulative counts through the SAME
    * decilesOfHist arithmetic as the batch query, so q200's SQL is
    * the oracle verbatim for ANY micro-batching. Sum-merge is
    * order-insensitive (the q251 rule): no arrival contract needed.
    *
    * 100 TB shape: state is sources × distinct-lengths rows (value
    * domain, never corpus grain); per-batch work is one map-side-
    * combined fold of the batch plus a metadata-scale merge. This is
    * how a 24/7 ingest keeps EXACT corpus quantiles current without
    * ever rescanning history — the streaming complement to q264's
    * sampled-rate table.
    */
  def streamingDeciles(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    // cnt sum-merge is not idempotent: the gate skips a crash replay
    graft.operators.TextOps.decilesOfHist(
      mergedState(spark, streamDocuments(spark, dir, sourceGlob,
          maxFilesPerTrigger, sourceDir), "deciles", "hist", stateRoot)(
        _.groupBy(col("source"), col("n_chars"))
          .agg(count(lit(1)).as("cnt")))(
        _.groupBy(col("source"), col("n_chars"))
          .agg(sum(col("cnt")).as("cnt"))))
      .orderBy(col("source"), col("decile"))
  }

  /** Streaming label-centroid maintenance (q267): q104 per
    * micro-batch. The per-label fixed-point LONG element sums are the
    * mergeable sufficient statistic for the exact centroid — each
    * batch's (label, n_vecs, s1..s_dim) partial sum-merges into the
    * ledger state (gated against crash replays) and the drain runs the
    * SAME finish arithmetic as the batch build, so q104's SQL is the
    * oracle verbatim for ANY micro-batching. Sum-merge is
    * order-insensitive: no arrival contract needed. This is the
    * centroid model a 24/7 embedding ingest keeps warm — q105's
    * classifier and q227/q265's drift audits read the drained
    * artifact instead of rescanning the corpus.
    *
    * 100 TB shape: state is labels × (dim+1) longs — metadata-scale;
    * per-batch work is ONE map-side-combined aggregation of the batch
    * (the corpus never widens into exploded rows) plus a labels-row
    * merge.
    */
  def streamingLabelCentroids(spark: SparkSession, dir: String,
      dim: Int = 64,
      sourceDir: Option[String] = None,
      sourceGlob: String = "embeddings.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Similarity
    Similarity.centroidReport(Similarity.centroidFinish(
      mergedState(spark, streamParquet(spark, embeddingsSchema,
          sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger),
          "labcent", "sums", stateRoot)(
        Similarity.centroidSumsOf(_, dim))(
        _.groupBy(col("label")).agg(sum(col("n_vecs")).as("n_vecs"),
          (1 to dim).map(i => sum(col(s"s$i")).as(s"s$i")): _*)),
      dim))
  }

  /** Streaming transition matrix (q269): q198 per micro-batch. A
    * cross-batch transition needs ONE anchor — the last raw event per
    * USER — which re-enters each batch as a synthetic previous row and
    * is scored by the SAME single-lag gap-≤-30-min rule as the batch
    * matrix (transitionPairs; session ids never materialize). Pair
    * counts sum-merge through a gated versioned ledger; the drain
    * row-normalizes the final counts, so q198's SQL is the oracle
    * verbatim for ANY micro-batching. Order-sensitive (a late event
    * would pair against the wrong neighbor): arrival contract on
    * event_id with the persisted batch watermark.
    *
    * 100 TB shape: state is one row per user plus a ≤ types² count
    * matrix; per-batch work is one per-user window over batch ∪
    * anchors and two metadata-scale merges. This is the live "what do
    * users do next" model q144/q268 read, maintained 24/7 without
    * rescanning history.
    */
  def streamingTransitions(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Sessionize.transitionProbs(
      sharedEventsState(spark, dir, "transition_counts", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        transitionCountState(_, dir, "transitions", sourceDir,
          sourceGlob, maxFilesPerTrigger, stateRoot)))
      .orderBy(col("from_type"), col("to_type"))

  /** Streaming Markov stationary distribution (q343): q338 per
    * micro-batch off the SAME maintained transition counts as q269 —
    * one fold, the matrix AND its long-run occupancy. Shares q338's
    * SQL.
    */
  def streamingMarkovStationary(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Sessionize.stationaryFromCounts(spark,
      sharedEventsState(spark, dir, "transition_counts", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        transitionCountState(_, dir, "markov", sourceDir,
          sourceGlob, maxFilesPerTrigger, stateRoot)))

  /** The shared stateful core behind q269/q343: the (from, to, n)
    * transition counts under the per-user last-event anchor rule and
    * the arrival contract — see [[streamingTransitions]]'s doc.
    */
  private def transitionCountState(spark: SparkSession, dir: String,
      op: String,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame = {
    val root = effectiveRoot(stateRoot, op)
    val cntRoot = stateDir(root, "counts")
    val lastRoot = stateDir(root, "last_event")
    val cntLedger = new VersionedLedger(spark, cntRoot, root)
    val lastLedger = new VersionedLedger(spark, lastRoot, root)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, lastRoot).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue && !lastLedger.isEmpty)
        existingStateMax(ss, lastLedger.path, "event_id")
          .foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax,
        idCol = "event_id")
      root.foreach(_ => writeBatchMarker(ss, lastRoot, id))
      val ev = batch
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("is_state", lit(0))
      val synth = lastEventAnchors(ss, lastLedger, ev)
      val bCounts = graft.operators.Sessionize
        .transitionPairs(ev.unionByName(synth))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      // counts first (non-idempotent sum-merge), anchors second: a
      // crash between the two commits replays exactly
      cntLedger.fold(id, bCounts)(_.groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n")))
      foldLastEvents(ss, lastLedger, ev, id, keys = Seq("user_id"))
    }
    spark.read.parquet(cntLedger.path)
  }

  /** Streaming per-source KL drift (q270): q158 per micro-batch. The
    * per-(source, term) exact token counts are the mergeable
    * sufficient statistic for BOTH distributions in
    * KL(source ‖ corpus) — each batch's counts sum-merge into the
    * ledger (gated against crash replays) and the drain runs the SAME
    * finish arithmetic over the final counts, so q158's SQL is the
    * oracle verbatim for ANY micro-batching. Sum-merge is
    * order-insensitive: no arrival contract needed. This is the drift
    * monitor a 24/7 ingest reads to catch a source going off-
    * distribution WITHOUT rescanning history — the lexical sibling of
    * q267's centroid maintenance.
    *
    * 100 TB shape: state is the (source, term) vocabulary relation —
    * the q128/q229 compacted-vocab scale, value domain not corpus
    * grain; per-batch work is one tokenize+fold of the batch plus a
    * vocab-scale merge; the drain's joins run on vocab rows.
    */
  def streamingKlDrift(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.klFromCounts(
      docCountState(spark, "kldrift", Seq("source", "term"),
        graft.operators.TextOps.tokenCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** The shared stateful core behind q270/q306/q308: an arbitrary
    * exact count grain over the documents stream (`stat` maps a batch
    * to (keys..., cnt) rows), sum-merged per key through a gated
    * ledger. Sum-merge commutes (order-insensitive, no arrival
    * contract) but is not idempotent, so the ledger gate skips crash
    * replays. One fold per grain; every finish that reads the grain
    * (KL, entropy rate, Simpson) drains the same state.
    *
    * 100 TB shape: state is vocab-scale (never doc/token grain);
    * per-batch work is one map-side-combined count of the batch plus
    * a grain-scale merge.
    */
  private def docCountState(spark: SparkSession, op: String,
      keys: Seq[String],
      stat: DataFrame => DataFrame,
      sourceDir: String,
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    mergedState(spark, streamParquet(spark, docsSchema, sourceDir,
        sourceGlob, maxFilesPerTrigger), op, "counts", stateRoot)(stat)(
      _.groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt")))

  /** Streaming bigram-entropy maintenance (q306): q305 per
    * micro-batch — the (source, w1, w2) count grain sum-merges
    * through [[docCountState]] and the drain runs
    * [[graft.operators.TextOps.entropyRateFromBigrams]] verbatim:
    * q305's SQL is the oracle for ANY micro-batching.
    */
  def streamingBigramEntropy(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.entropyRateFromBigrams(
      docCountState(spark, "bigram_entropy", Seq("source", "w1", "w2"),
        graft.operators.TextOps.bigramCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming PII incidence (q349): q345 per micro-batch — the
    * (source, kind) detector cells sum-merge through [[docCountState]]
    * and the drain runs [[graft.operators.Pii.incidenceFromCells]]
    * verbatim, so q345's SQL is the oracle for ANY micro-batching.
    * The scrub-or-not decision per source stays current as the crawl
    * arrives, without ever rescanning the corpus.
    */
  def streamingPiiIncidence(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Pii.incidenceFromCells(
      docCountState(spark, "pii_incidence", Seq("source", "kind"),
        graft.operators.Pii.piiCellsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming split-mass maintenance (q364): q360's (source, split,
    * kind) cells sum-merge per micro-batch — the training-mix table
    * kept current as documents arrive. Assignment is the stateless
    * q136 hash rule, so a doc's split never depends on WHICH batch
    * carried it and q360's SQL is the oracle for ANY micro-batching.
    */
  def streamingSplitMass(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Splits.massFromCells(
      docCountState(spark, "split_mass", Seq("source", "split", "kind"),
        d => graft.operators.Splits.splitCells(
          d.select(col("doc_id"), col("source"), col("n_chars"))),
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming completeness audit (q379): q376's documents rows per
    * micro-batch — (col_name, kind) row/null counts sum-merge, so the
    * maintained audit equals the batch one under any batching. The
    * contract check a 24/7 ingest runs WITH the data, not after it.
    */
  def streamingCompleteness(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Audit.completenessFromCells(
      docCountState(spark, "doc_completeness", Seq("col_name", "kind"),
        graft.operators.Audit.docCompletenessCells,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** The q393 state stat: all three documents-side contract facets as
    * ONE sum-merged cell grain — completeness (col_name, rows/nulls),
    * key uniqueness (per-doc_id counts: a cross-batch duplicate
    * becomes cnt > 1 at drain — the key-grain distinct-merge state),
    * and the documents domain rules (checked/viol counts).
    */
  private def contractCellsOf(docs: DataFrame): DataFrame = {
    import graft.operators.Audit
    Audit.docCompletenessCells(docs)
      .select(lit("comp").as("facet"), col("col_name").as("k1"),
        col("kind").as("k2"), col("cnt"))
      .unionByName(Audit.docKeyCells(docs)
        .select(lit("key").as("facet"),
          col("doc_id").cast("string").as("k1"), lit("").as("k2"),
          col("cnt")))
      .unionByName(Audit.docDomainCells(docs)
        .select(lit("rule").as("facet"), col("rule_id").as("k1"),
          col("kind").as("k2"), col("cnt")))
  }

  /** Streaming contract gate (q393, r13 verdict #5): q380's one-row
    * CI gate drained from MAINTAINED documents state instead of a
    * fresh corpus pass — the gate is continuously current as the
    * ingest runs. The documents side of all three audits rides one
    * (facet, k1, k2) cell state ([[contractCellsOf]]); the nine
    * static tables are re-audited at drain (they don't stream); the
    * rollup is [[graft.operators.Audit.gateFrom]] — the same code the
    * batch gate runs, so q380's SQL is the oracle verbatim.
    *
    * 100 TB shape: per-batch work is one aggregate pass over the
    * batch; state is #columns + #docs(key grain) + #rules rows — the
    * key facet is the only corpus-grain piece, the same scale as the
    * q235 dedup registry it mirrors.
    */
  def streamingContractGate(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Audit
    val state = docCountState(spark, "contract_gate",
      Seq("facet", "k1", "k2"), contractCellsOf,
      sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
      stateRoot)
      // barrier: three facet drains read the one state table
      .persist()
    graft.Caches.onRelease(() =>
      try state.unpersist(false) catch { case _: Throwable => () })
    Audit.gateWithDocState(spark, dir,
      Audit.completenessFromCells(state.filter(col("facet") === "comp")
        .select(col("k1").as("col_name"), col("k2").as("kind"),
          col("cnt"))),
      Audit.docKeyRowFromCells(state.filter(col("facet") === "key")
        .select(col("k1").cast("long").as("doc_id"), col("cnt"))),
      Audit.docDomainFromCells(state.filter(col("facet") === "rule")
        .select(col("k1").as("rule_id"), col("k2").as("kind"),
          col("cnt"))))
  }

  /** Streaming curriculum-phase mass (q397): q394's (phase, kind)
    * docs/tokens cells sum-merge per micro-batch — the curriculum
    * sizing table kept current as the corpus arrives. The score is a
    * stateless row-local function of the text, so a doc's phase never
    * depends on which batch carried it and q394's SQL is the oracle
    * for ANY micro-batching.
    */
  def streamingCurriculumMass(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Curriculum.phasesFromCells(
      docCountState(spark, "curriculum_mass", Seq("phase", "kind"),
        graft.operators.Curriculum.phaseCells,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** The q421 cell state: (band, split) doc counts through the
    * generic sum-merge core (band and split are stateless row-local
    * rules, so q419's SQL is the oracle for any batching).
    */
  private[graft] def psiCellState(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    docCountState(spark, "psi_bands", Seq("band", "split"),
      graft.operators.Psi.psiCells,
      sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
      stateRoot)

  /** The q425 cell state: per-source repetition-screen counts through
    * the generic sum-merge core (the rules are stateless per doc).
    */
  private[graft] def repetitionCellState(spark: SparkSession,
      dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    docCountState(spark, "repetition_screen", Seq("source", "kind"),
      graft.operators.Repetition.screenCells,
      sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
      stateRoot)

  /** Streaming decontamination monitor (q415): q414's per-source
    * purge-cost cells maintained as train documents arrive — the TEST
    * window-hash set is materialized ONCE as a stored artifact (the
    * eval set is fixed while train streams), each micro-batch's train
    * docs are windowed row-locally and semi-joined against it, and
    * the (source, kind) cells sum-merge (contamination is per-doc
    * against a fixed test set, so q414's SQL is the oracle for ANY
    * micro-batching). The alert a 24/7 ingest runs so a benchmark
    * leak is caught at ARRIVAL, not at eval time.
    */
  def streamingContamination(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Contamination
    val testWPath = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_testwin_")).toString + "/w"
    Contamination.buildTestWindowTable(spark, dir, testWPath)
    Contamination.purgeFromCells(
      docCountState(spark, "contamination", Seq("source", "kind"),
        d => Contamination.purgeCellsOf(d,
          d.sparkSession.read.parquet(testWPath)),
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))
  }

  /** Streaming tokenizer-drift alert (q350): q244's BPE re-training
    * off the MAINTAINED (w, split) word-frequency state — word counts
    * sum-merge per micro-batch, and at drain the snapshot side trains
    * from the 'snap' rows while the full side trains from both splits
    * summed per word, so q244's SQL is the oracle for ANY
    * micro-batching. The corpus text is never rescanned: re-training
    * cost is vocab-grain (r12 verdict #8's incremental
    * tokenizer-drift ask).
    */
  def streamingBpeDrift(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.TextOps
    val state = docCountState(spark, "bpe_drift", Seq("w", "split"),
      d => TextOps.wordSplitCountsOf(d),
      sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
      stateRoot)
      // barrier: both trainings and the per-word sum read the state
      .persist()
    TextOps.bpeDriftFromWords(spark,
      state.filter(col("split") === "snap")
        .select(col("w"), col("cnt").as("freq")),
      state.groupBy(col("w")).agg(sum(col("cnt")).as("freq")))
  }

  /** Streaming sequence-novelty alert (q352): q351 off a maintained
    * (3-gram, split) count state — gram counts sum-merge per
    * micro-batch and the drain runs the same report, so q351's SQL is
    * the oracle for ANY micro-batching.
    */
  def streamingOovPressure(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.oovFromSplitCounts(
      docCountState(spark, "oov_pressure", Seq("w", "split"),
        d => graft.operators.TextOps.gramSplitCountsOf(d),
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming redaction-yield forecast (q354): q353 off the SAME
    * (source, kind) detector cells as q349 — the two extra
    * char-mass kinds sum-merge identically. Shares q353's SQL.
    */
  def streamingRedactionYield(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Pii.yieldFromCells(
      docCountState(spark, "pii_yield", Seq("source", "kind"),
        graft.operators.Pii.piiCellsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming Simpson-diversity maintenance (q308): q307 per
    * micro-batch off the SAME (source, term) grain as q270 — the
    * drain runs [[graft.operators.TextOps.simpsonFromCounts]]: one
    * maintained fold, two lexical-health reports.
    */
  def streamingSimpson(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.simpsonFromCounts(
      docCountState(spark, "simpson", Seq("source", "term"),
        graft.operators.TextOps.tokenCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming distinctive terms (q331): q330 per micro-batch off the
    * SAME (source, term) grain as q270/q308 — the drain runs the
    * smoothed log-odds top-5 finish. Shares q330's SQL.
    */
  def streamingDistinctiveTerms(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.distinctiveFromCounts(
      docCountState(spark, "distinctive", Seq("source", "term"),
        graft.operators.TextOps.tokenCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming vocab Jaccard (q333): q332 per micro-batch — the
    * drained (source, term) count grain collapses to the distinct
    * relation at drain. Shares q332's SQL.
    */
  def streamingVocabJaccard(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.vocabJaccardFromCounts(
      docCountState(spark, "vocab_jaccard", Seq("source", "term"),
        graft.operators.TextOps.tokenCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming WOE maintenance (q337): q336 per micro-batch — the
    * tiny (bucket, y) cell grain sum-merges through [[docCountState]];
    * drain = the WOE/IV finish. Shares q336's SQL.
    */
  def streamingWoe(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.QualityModel.woeFromCells(
      docCountState(spark, "woe", Seq("bucket", "y"),
        graft.operators.QualityModel.woeCellsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming Count-Min maintenance (q310): q184 per micro-batch —
    * the global (token, cnt) grain sum-merges through
    * [[docCountState]], the drain rebuilds the 1024-cell grid and the
    * top-k audit ([[graft.operators.TextOps.cmsFromTf]]). Count-Min
    * cells are themselves sums, so maintaining the EXACT tf grain
    * maintains every derived sketch for free — the same reasoning as
    * q229's BM25 state. Shares q184's SQL.
    */
  def streamingCountMin(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.cmsFromTf(
      docCountState(spark, "countmin", Seq("token"),
        graft.operators.TextOps.tokenTfOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming Zipf maintenance (q311): q190 per micro-batch off the
    * SAME global (token, cnt) grain as q310 — one maintained fold,
    * frequency sketch AND naturalness fit. Shares q190's SQL.
    */
  def streamingZipf(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.zipfFromTf(
      docCountState(spark, "zipf", Seq("token"),
        graft.operators.TextOps.tokenTfOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming corpus-entropy maintenance (q312): q173 per
    * micro-batch — the (lang, token) grain sum-merges through
    * [[docCountState]]; drain = the per-language entropy fold. Shares
    * q173's SQL.
    */
  def streamingCorpusEntropy(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.entropyFromLangCounts(
      docCountState(spark, "corpus_entropy", Seq("lang", "token"),
        graft.operators.TextOps.langTokenCountsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** Streaming lang-id confusion maintenance (q313): q309 per
    * micro-batch — the (lang, guess) cells sum-merge through
    * [[docCountState]]; drain = the share finish. Shares q309's SQL.
    */
  def streamingLangIdConfusion(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.confusionFromCells(
      docCountState(spark, "langid_conf", Seq("lang", "lang_guess"),
        graft.operators.TextOps.confusionCellsOf,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot))

  /** The shared stateful core behind the incremental decision-support
    * family (q320–q324): an arbitrary mergeable statistic over a
    * LINEITEM stream. `stat` maps a micro-batch (joined against any
    * static dims inside the callback — the q76 stream-static
    * discipline) to its partial-statistic rows; `merge` re-aggregates
    * state ∪ batch. Decimal sums / counts / distinct sets all merge
    * exactly (decimal addition is associative), so ANY micro-batching
    * drains to the batch report and the batch query's SQL is the
    * oracle verbatim. Sum-merges are not idempotent, so the ledger
    * gate skips crash replays; distinct-merges ride the same gate for
    * version hygiene.
    *
    * 100 TB shape: state is the REPORT grain (flag×status cells,
    * months, suppliers, customers — never line grain); per batch one
    * map-side-combined aggregate + a grain-scale merge. This is the
    * incremental form of a nightly warehouse refresh: facts stream
    * in, the decision tables stay current, history is never
    * rescanned.
    */
  private def lineitemState(spark: SparkSession, dir: String,
      op: String,
      stat: DataFrame => DataFrame,
      merge: DataFrame => DataFrame,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    mergedState(spark, streamParquet(spark,
        Tables.read(spark, dir, "lineitem").schema,
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger),
      op, "sums", stateRoot)(stat)(merge)

  /** Events sibling of [[lineitemState]]: an arbitrary mergeable
    * statistic over the events stream through a gated ledger in
    * `<root>/<table>` — see [[lineitemState]] for the merge/replay
    * contract.
    */
  private def eventsMergedState(spark: SparkSession, dir: String,
      op: String,
      stat: DataFrame => DataFrame,
      merge: DataFrame => DataFrame,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String],
      table: String = "sums"): DataFrame =
    mergedState(spark, streamEvents(spark, dir, sourceGlob,
        maxFilesPerTrigger, sourceDir), op, table, stateRoot)(stat)(merge)

  /** Streaming OHLC maintenance (q329): q328 per micro-batch — the
    * per-cell (open-struct, close-struct, high, low, volume, count)
    * statistic merges exactly (struct min/max are argmin/argmax
    * selections; decimal volume sums are associative). Shares q328's
    * SQL.
    */
  def streamingOhlc(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Lifecycle
    Lifecycle.ohlcFinish(
      eventsMergedState(spark, dir, "ohlc", Lifecycle.ohlcStatOf,
        Lifecycle.ohlcMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming pricing summary (q320): TPC-H Q1 per micro-batch —
    * decimal sums + counts per (returnflag, linestatus) cell merge
    * exactly. Shares q16's SQL.
    */
  def streamingPricingSummary(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.pricingFinish(
      lineitemState(spark, dir, "pricing", Analytics.pricingStatOf,
        Analytics.pricingMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming promo share (q321): TPC-H Q14 per micro-batch — each
    * batch joins the STATIC part dim (broadcast) and folds month
    * cells. Shares q317's SQL.
    */
  def streamingPromoShare(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    import graft.sources.Tables
    Analytics.promoFinish(
      lineitemState(spark, dir, "promo",
        b => Analytics.promoStatOf(b, Tables.part(spark, dir)),
        Analytics.promoMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming returned-revenue report (q322): TPC-H Q10 per
    * micro-batch — per-customer returned-cent sums merge; the top-20
    * + dim names resolve at drain. The static side here is ORDERS
    * (fact-scale, unlike q321's part dim): each batch pays a
    * batch×orders key join, which at 100 TB wants orders bucketed on
    * o_orderkey once (the q85 bucketed-join discipline) so the
    * per-batch join is co-partitioned instead of a full shuffle.
    * Shares q316's SQL.
    */
  def streamingReturnedRevenue(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    import graft.sources.Tables
    Analytics.returnedFinish(spark, dir,
      lineitemState(spark, dir, "returned",
        b => Analytics.returnedStatOf(b, Tables.orders(spark, dir)),
        Analytics.returnedMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming top supplier (q323): TPC-H Q15 per micro-batch — the
    * max/tie-set resolves at drain over merged supplier sums. Shares
    * q318's SQL.
    */
  def streamingTopSupplier(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.topSupplierFinish(spark, dir,
      lineitemState(spark, dir, "topsupp", Analytics.topSupplierStatOf,
        Analytics.topSupplierMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming late-shipment audit (q324): TPC-H Q4 per micro-batch —
    * the DISTINCT late (orderkey, priority) set distinct-merges
    * (idempotent); totals come from the static orders side at drain.
    * Like q322, the per-batch join is against fact-scale orders — at
    * 100 TB bucket orders on o_orderkey once (q85 discipline) so each
    * batch joins co-partitioned. Shares q315's SQL.
    */
  def streamingLatePriority(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    import graft.sources.Tables
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Analytics.lateFinish(
      lineitemState(spark, dir, "late",
        b => Analytics.lateStatOf(b, ord),
        rows => rows.distinct(), sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot),
      ord)
  }

  /** Streaming small-quantity audit (q340): TPC-H Q17 per
    * micro-batch — the (partkey, quantity, brand) cells merge even
    * though the half-of-average THRESHOLD is only known at drain
    * (every line in a cell shares one quantity, so the final
    * corpus-wide threshold qualifies whole cells). Shares q319's SQL.
    */
  def streamingSmallQuantity(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    import graft.sources.Tables
    Analytics.smallQuantityFromCells(
      lineitemState(spark, dir, "smallqty",
        b => Analytics.smallQuantityCellsOf(b, Tables.part(spark, dir)),
        Analytics.smallQuantityMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming forecast revenue (q369): TPC-H Q6 per micro-batch —
    * ONE (decimal revenue, count) cell sum-merges; the pushed-down
    * predicates run per batch. Shares q365's SQL.
    */
  def streamingForecastRevenue(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.forecastFinish(
      lineitemState(spark, dir, "forecast", Analytics.forecastStatOf,
        Analytics.forecastMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming large-volume customers (q370): TPC-H Q18 per
    * micro-batch — per-order decimal quantity sums merge (an order's
    * lines may SPAN batches; the sum still lands exactly); the 250
    * threshold and the dim joins resolve at drain. Shares q367's SQL.
    */
  def streamingLargeVolume(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.largeVolumeFinish(spark, dir,
      lineitemState(spark, dir, "volume", Analytics.volumeStatOf,
        Analytics.volumeMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming volume shipping (q374): TPC-H Q7 per micro-batch —
    * (supp_nation, cust_nation, year) decimal cells merge; each batch
    * joins the static dim/order sides (the q322 discipline). Shares
    * q371's SQL.
    */
  def streamingVolumeShipping(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.volumeShipFinish(
      lineitemState(spark, dir, "volship",
        b => Analytics.volumeShipCellsOf(spark, dir, b),
        Analytics.volumeShipMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming disjunctive-band revenue (q375): TPC-H Q19 per
    * micro-batch — the single (revenue, count) cell merges; part is
    * the broadcast static side per batch. Shares q373's SQL.
    */
  def streamingDisjunctiveRevenue(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Analytics
    Analytics.forecastFinish(
      lineitemState(spark, dir, "disjrev",
        b => Analytics.disjunctiveStatOf(spark, dir, b),
        Analytics.disjunctiveMerge, sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
  }

  /** Streaming brand affinity (q384): the (order, brand) grain
    * DISTINCT-merges per micro-batch (idempotent — an order's lines
    * spanning batches still land one row per brand); support counts,
    * marginals, and lift resolve at drain. Shares q381's SQL.
    */
  def streamingBrandAffinity(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Basket.affinityOf(
      basketStateFor(spark, dir, "basket", sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
      .orderBy(col("brand_a"), col("brand_b"))

  /** Streaming basket sizes (q385): q383 off the SAME maintained
    * (order, brand) state core. Shares q383's SQL.
    */
  def streamingBasketSizes(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "lineitem.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Basket.sizesOf(
      basketStateFor(spark, dir, "basket_sizes", sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))

  /** The maintained (order, brand) distinct state behind q384/q385 —
    * both reports drained an IDENTICAL AvailableNow fold of the same
    * lineitem backlog; share the drained core per corpus fingerprint
    * (one maintained fold, two reports — the q277-family discipline).
    * The fingerprint covers every consumed column on BOTH source
    * tables (lineitem order/part keys AND part's brand — r18 verdict
    * #4); any override keeps a private live drain.
    */
  private def basketStateFor(spark: SparkSession, dir: String,
      op: String, sourceDir: Option[String], sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame = {
    import graft.operators.Basket
    def live(ss: SparkSession, liveOp: String) = lineitemState(ss, dir,
      liveOp, b => Basket.orderBrands(ss, dir, b),
      _.distinct(), sourceDir, sourceGlob, maxFilesPerTrigger,
      stateRoot)
    if (sourceDir.isEmpty && maxFilesPerTrigger.isEmpty &&
        stateRoot.isEmpty && sourceGlob == "lineitem.parquet") {
      val fp = LedgerArtifacts.tableFingerprint(Seq(
        ("lineitem", Tables.lineitem(spark, dir),
          Seq("l_orderkey", "l_partkey")),
        ("part", Tables.part(spark, dir),
          Seq("p_partkey", "p_brand"))))
      LedgerArtifacts.sharedTable(spark,
        s"order_brands_${LedgerArtifacts.dirKey(dir)}", fp)(
        live(ChildSessions.withConfs(spark, StateWidth), "basket_shared"))
    } else live(spark, op)
  }

  /** Streaming Benford audit (q341): q334 per micro-batch on the
    * events side — digit cells sum-merge; the static orders cells
    * join at drain (the q76 hybrid). Shares q334's SQL.
    */
  def streamingBenford(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.TextOps
    import graft.sources.Tables
    val evCells = eventsMergedState(spark, dir, "benford",
      b => TextOps.benfordCellsOf(b, "value", "events.value"),
      rows => rows.groupBy(col("entity"), col("digit"))
        .agg(sum(col("n")).as("n")),
      sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot)
    TextOps.benfordFinish(evCells.unionByName(
      TextOps.benfordCellsOf(Tables.orders(spark, dir), "o_totalprice",
        "orders.o_totalprice")))
  }

  /** Streaming balanced sample (q342): q335 per micro-batch — the
    * (lang, doc_id, h) index distinct-merges (gated count grain; the
    * drain distincts), and BOTH the min class size and the md5 ranks
    * are drain-time folds, so the maintained index always draws the
    * CURRENT balanced sample. Shares q335's SQL.
    */
  def streamingBalancedSample(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.TextOps.balancedFromIndex(
      docCountState(spark, "balanced", Seq("lang", "doc_id", "h"),
        d => d.select(col("lang"), col("doc_id"),
            md5(concat(lit("bal|"), col("doc_id").cast("string"))
              .cast("binary")).as("h"))
          .groupBy(col("lang"), col("doc_id"), col("h"))
          .agg(count(lit(1)).as("cnt")),
        sourceDir.getOrElse(dir), sourceGlob, maxFilesPerTrigger,
        stateRoot)
        .select(col("lang"), col("doc_id"), col("h")))

  /** Streaming segment conversion (q344): q339 per micro-batch off
    * the SAME [[rfmState]] core as q279/q303 (the purchase flag now
    * rides the per-user stats, max-merged) — one maintained fold,
    * three marketing reports. Shares q339's SQL.
    */
  def streamingSegmentConversion(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.conversionFromStats(
      sharedEventsState(spark, dir, "rfm_state", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        rfmState(_, dir, "segconv", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** Streaming Heaps'-law maintenance (q314): q205 per micro-batch —
    * the one ORDER-SENSITIVE text state in the family. Each batch's
    * global token positions are its q205 two-phase within-batch
    * positions shifted by the running token offset, which is exact
    * precisely under the id-ordered arrival contract (the q175/q235
    * keyset-feed rule, guarded the same way); (token, first_pos) then
    * MIN-merges into the ledger and a one-row (n_total, max_doc)
    * offsets ledger carries the shift and the guard seed. Drain = the
    * q205 checkpoint-membership finish over the merged state: q205's
    * SQL is the oracle for ANY ordered micro-batching.
    *
    * 100 TB shape: state is VOCAB grain (one long per type) plus one
    * summary row — the corpus's token stream is never rescanned, and
    * each batch pays only its own two-phase prefix.
    */
  def streamingHeaps(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.TextOps
    val root = effectiveRoot(stateRoot, "heaps")
    val fpRoot = stateDir(root, "first_pos")
    val offRoot = stateDir(root, "tok_offsets")
    val fpLedger = new VersionedLedger(spark, fpRoot, root)
    val offLedger = new VersionedLedger(spark, offRoot, root)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, fpRoot).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue && !offLedger.isEmpty)
        existingStateMax(ss, offLedger.path, "max_doc")
          .foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax,
        idCol = "doc_id")
      root.foreach(_ => writeBatchMarker(ss, fpRoot, id))
      val offset =
        if (offLedger.isEmpty) 0L
        else ss.read.parquet(offLedger.path)
          .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      val (bFirst, bTot) =
        TextOps.firstPositions(ss, batch, offset)
      fpLedger.fold(id, bFirst)(_.groupBy(col("token"))
        .agg(min(col("first_pos")).as("first_pos")))
      offLedger.fold(id, bTot)(_.agg(sum(col("n_tokens")).as("n_tokens"),
        max(col("max_doc")).as("max_doc")))
    }
    TextOps.heapsFinish(spark,
      spark.read.parquet(fpLedger.path),
      spark.read.parquet(offLedger.path)
        .select(col("n_tokens").as("n_total")))
  }

  /** Streaming retention-cohort maintenance (q276): q166 per
    * micro-batch. The distinct (user_id, activity-date) grain is the
    * mergeable sufficient statistic for the WHOLE lifecycle family —
    * each batch's pairs distinct-merge into the ledger state and the
    * drain runs [[graft.operators.Analytics.cohortTriangleOf]] (the
    * q166 finish) verbatim, so q166's SQL is the oracle for ANY
    * micro-batching. Distinct-merge is idempotent AND
    * order-insensitive (a replayed or late batch re-contributes the
    * same pairs; min-over-user at drain re-derives every cohort from
    * the final grain), so no arrival contract is needed; the ledger
    * gate still skips replays so a crash-replay costs no version
    * churn.
    *
    * 100 TB shape: state is ≤ users × active-days rows (the grain the
    * reference keeps per-contact in Postgres/Redis, held corpus-wide);
    * per-batch work is one map-side-combined distinct of the batch
    * plus a grain-scale distinct-merge — history is never rescanned,
    * and the same drained state also answers the epoch-day reports
    * q273–q275 ([[graft.operators.Lifecycle]]).
    */
  def streamingRetention(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Analytics.cohortTriangleOf(
      eventsMergedState(spark, dir, "retention",
        graft.operators.Analytics.activityOf,
        _.distinct(),
        sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot, "user_days"))

  /** Streaming RFM maintenance (q279): q274 per micro-batch. The
    * per-user (last_day, n_events, cents) triple is the mergeable
    * sufficient statistic — max / sum / sum-merge per user — so each
    * batch folds one user-grain aggregate into the gated ledger and
    * the drain runs [[graft.operators.Lifecycle.rfmReport]] (the q274
    * finish, including the corpus-max-day recency anchor) verbatim:
    * q274's SQL is the oracle for ANY micro-batching. The merge is
    * order-insensitive (max and sum commute) — no arrival contract;
    * sum-merge is NOT idempotent, so the ledger gate skips crash
    * replays (the r11 batch-id-in-version discipline).
    *
    * 100 TB shape: state is one row per user — the same per-contact
    * recency/frequency state the reference keeps in Postgres
    * (`saveToPostgres.js` upsert timestamps), held as a compacted
    * columnar table; per-batch work is one map-side-combined
    * user-grain aggregate of the batch plus a user-grain merge.
    */
  def streamingRfm(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.rfmReport(
      sharedEventsState(spark, dir, "rfm_state", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        rfmState(_, dir, "rfm", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** The shared stateful core behind q279/q303: the per-user
    * (last_day, n_events, cents) stats as a max/sum-merged gated
    * ledger — see [[streamingRfm]] for the merge discipline.
    */
  private def rfmState(spark: SparkSession, dir: String,
      op: String,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    eventsMergedState(spark, dir, op,
      graft.operators.Lifecycle.rfmStatsOf,
      _.groupBy(col("user_id"))
        .agg(max(col("last_day")).as("last_day"),
          sum(col("n_events")).as("n_events"),
          sum(col("cents")).as("cents"),
          max(col("converted")).as("converted")),
      sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot, "user_stats")

  /** Streaming session-funnel maintenance (q277): q144 per
    * micro-batch — the capstone of the behavioral twins. Two state
    * tables:
    *
    *   - `anchors`, one row per user: (last_ts, last_event_id,
    *     cur_session). A batch's events get session ids by re-entering
    *     each user's anchor as a synthetic lag row (the q269 rule):
    *     within 30 min of the anchor continues session `cur_session`,
    *     a bigger gap opens `cur_session + 1`, and boundaries inside
    *     the batch keep counting — so cross-batch numbering is exactly
    *     the batch numbering. Max-merge (idempotent).
    *   - `stages`, one row per (user, session): the q144 anchor ids
    *     (tv, tc, tp), merged with the stage rules. Under the
    *     id-ordered arrival contract each anchor is FINAL the moment
    *     it is set (later events only carry larger ids), so the merge
    *     is one coalesce per stage: tv' = coalesce(tv, min batch view
    *     id); tc' = coalesce(tc, min batch click id > tv'); tp' =
    *     coalesce(tc-wise). A click that predates its session's first
    *     view can never qualify later (ids only grow) — dropping it is
    *     exact, which is what makes (tv, tc, tp) a sufficient
    *     statistic at SESSION grain instead of event grain.
    *
    * Order-sensitive, so the full durability discipline applies:
    * arrival guard on event_id with the persisted batch watermark,
    * stages folded before anchors (a crash between the two commits
    * replays into a skipped stages fold + an anchors fold off its own
    * pre-batch image — both exact), both ledgers gated against crash
    * replays. Drain = the four q144 stage counts off the stages table;
    * q144's SQL is the oracle for ANY micro-batching.
    *
    * 100 TB shape: state is users + sessions rows (never events); per
    * batch, one window over batch ∪ anchors and three batch-grain
    * stage joins. The reference's funnel analogue would rescan the
    * event log; this never reads an event twice.
    */
  /** The drained [[funnelStages]] session table as a build-once
    * SHARED artifact — the four reports off this state family
    * (q277/q283/q285/q298) each ran their OWN identical drain of the
    * same events backlog (~4-5 s of micro-batch machinery apiece);
    * a 24/7 operator runs the fold once and reads every report off
    * it, which is exactly what the per-report docstrings promise.
    * Only the default registry path (no sourceDir/trigger/stateRoot
    * overrides) shares; spec-driven resume/split scenarios keep their
    * private live drains.
    */

  /** Share a drained state core across its sibling reports: the
    * drained state of a deterministic AvailableNow fold over the
    * default events backlog is the SAME relation whichever report
    * asked first, so materialize it once per corpus fingerprint
    * (sharedTable artifact) — one maintained fold, N reports, exactly
    * what each report's docstring promises. Any override (explicit
    * source split, trigger limit, durable state root) keeps the
    * private live drain — the resume/split specs exercise those.
    */
  private def sharedEventsState(spark: SparkSession, dir: String,
      name: String, sourceDir: Option[String], sourceGlob: String,
      maxFilesPerTrigger: Option[Int], stateRoot: Option[String])(
      live: SparkSession => DataFrame): DataFrame =
    if (sourceDir.isEmpty && maxFilesPerTrigger.isEmpty &&
        stateRoot.isEmpty && sourceGlob == "events.parquet") {
      // fingerprint EVERY column the state folds consume (ts /
      // event_type / value feed the funnel, RFM, daily-count, and
      // Markov folds), not just the identity keys — a regenerated
      // corpus that preserves ids but moves payloads must rebuild
      // (r18 verdict #4)
      val cols = Seq("event_id", "user_id", "ts", "event_type", "value")
      val fp = LedgerArtifacts.fingerprint(
        Tables.events(spark, dir).select(cols.map(col): _*), cols)
      LedgerArtifacts.sharedTable(spark,
        s"${name}_${LedgerArtifacts.dirKey(dir)}",
        s"${fp._1}_${fp._2}")(
        live(ChildSessions.withConfs(spark, StateWidth)))
    } else live(spark)

  private def funnelStagesShared(spark: SparkSession,
      dir: String): DataFrame =
    sharedEventsState(spark, dir, "funnel_stages", None,
      "events.parquet", None, None)(
      funnelStages(_, dir, "funnel_shared", None, "events.parquet",
        None, None))

  private def funnelStagesFor(spark: SparkSession, dir: String,
      op: String, sourceDir: Option[String], sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    if (sourceDir.isEmpty && maxFilesPerTrigger.isEmpty &&
        stateRoot.isEmpty && sourceGlob == "events.parquet")
      funnelStagesShared(spark, dir)
    else funnelStages(spark, dir, op, sourceDir, sourceGlob,
      maxFilesPerTrigger, stateRoot)

  def streamingFunnel(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    val stages = funnelStagesFor(spark, dir, "funnel", sourceDir,
      sourceGlob, maxFilesPerTrigger, stateRoot)
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n_sessions"))
        .select(lit(name).as("stage"), col("n_sessions"))
    cnt(stages, "s0_sessions")
      .unionByName(cnt(stages.filter(col("tv").isNotNull), "s1_view"))
      .unionByName(cnt(stages.filter(col("tc").isNotNull),
        "s2_view_click"))
      .unionByName(cnt(stages.filter(col("tp").isNotNull),
        "s3_view_click_purchase"))
      .orderBy(col("stage"))
  }

  /** Streaming funnel-latency maintenance (q285): q278 per
    * micro-batch. The [[funnelStages]] state already carries each
    * stage anchor's TIMESTAMP next to its event id (one coalesce per
    * batch, final under the arrival contract), so the drained session
    * grain holds every elapsed-seconds gap and the drain is exactly
    * q278's decile fold — q278's SQL is the oracle for ANY
    * micro-batching. Same state family as q277 (a 24/7 operator runs
    * the fold once and reads both reports off it).
    */
  def streamingFunnelLatency(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    val stages = funnelStagesFor(spark, dir, "funnel_lat", sourceDir,
      sourceGlob, maxFilesPerTrigger, stateRoot)
    def gaps(df: DataFrame, a: String, b: String, name: String) =
      df.select(lit(name).as("transition"),
        floor((expr(s"unix_micros(cast($b as timestamp))") -
          expr(s"unix_micros(cast($a as timestamp))")) /
          lit(1000000L)).cast("long").as("gap_sec"))
    graft.operators.Sessionize.latencyDeciles(
      gaps(stages.filter(col("tc").isNotNull), "tv_ts", "tc_ts",
        "t1_view_to_click")
        .unionByName(gaps(stages.filter(col("tp").isNotNull), "tc_ts",
          "tp_ts", "t2_click_to_purchase")))
  }

  /** Streaming session-size maintenance (q283): q271 per micro-batch.
    * Per-session event counts sum-merge through the [[funnelStages]]
    * state (`n_events` rides the same gated ledger as the stage
    * anchors), so the drained session grain feeds the exact q271
    * bucket rollup — q271's SQL is the oracle for ANY micro-batching.
    */
  def streamingSessionSizes(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Sessionize.sizeHistogramOf(
      funnelStagesFor(spark, dir, "sess_sizes", sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))

  /** Streaming cohort-LTV maintenance (q284): q280 per micro-batch.
    * The (user, day, cents) grain is the mergeable sufficient
    * statistic — cents sum-merge per (user, day), cohorts re-derived
    * at drain by the same min-over-user — so each batch folds one
    * map-side-combined aggregate into the gated ledger and the drain
    * runs [[graft.operators.Lifecycle.ltvOf]] (the q280 finish)
    * verbatim: q280's SQL is the oracle for ANY micro-batching.
    * Sum-merge commutes (order-insensitive, no arrival contract) but
    * is not idempotent, so the ledger gate skips crash replays.
    *
    * 100 TB shape: state is users × active-days rows (the q276 grain
    * plus one long); per-batch work is one aggregate of the batch
    * plus a grain-scale merge — revenue history is never rescanned.
    */
  def streamingCohortLtv(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.ltvOf(
      eventsMergedState(spark, dir, "ltv",
        graft.operators.Lifecycle.userDayCentsOf,
        _.groupBy(col("user_id"), col("day"))
          .agg(sum(col("cents")).as("cents")),
        sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot,
        "user_day_cents"))

  /** The shared stateful core behind q277 / q283 / q285: maintains
    * per-user session ANCHORS and the per-(user, session) grain —
    * stage anchor ids AND timestamps (tv, tc, tp + _ts) plus the
    * session's event count — and returns the drained session table.
    * See [[streamingFunnel]] for the merge rules and the durability
    * discipline.
    */
  private def funnelStages(spark: SparkSession, dir: String,
      op: String,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame = {
    val root = effectiveRoot(stateRoot, op)
    val stagesRoot = stateDir(root, "stages")
    val anchorsRoot = stateDir(root, "anchors")
    val stagesLedger = new VersionedLedger(spark, stagesRoot, root)
    val anchorsLedger = new VersionedLedger(spark, anchorsRoot, root)
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val seenMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = streamEvents(spark, dir, sourceGlob, maxFilesPerTrigger,
      sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      if (lastBatchId.get == Long.MinValue)
        batchMarkerMax(ss, anchorsRoot).foreach(lastBatchId.set)
      if (seenMax.get == Long.MinValue && !anchorsLedger.isEmpty)
        existingStateMax(ss, anchorsLedger.path, "last_event_id")
          .foreach(seenMax.set)
      batchOrderGuard(batch, id, lastBatchId, seenMax,
        idCol = "event_id")
      root.foreach(_ => writeBatchMarker(ss, anchorsRoot, id))
      val bev = batch
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), lit(0).as("is_state"),
          lit(null).cast("long").as("base"))
      val anchors =
        if (anchorsLedger.isEmpty) bev.limit(0)
        else ss.read.parquet(anchorsLedger.path)
          .select(col("user_id"), col("last_ts").as("ts"),
            col("last_event_id").as("event_id"),
            lit("__anchor").as("event_type"), lit(1).as("is_state"),
            col("cur_session").as("base"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val assigned = bev.unionByName(anchors)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("is_state") === 1, lit(0L))
            .when(col("prev_ts").isNull ||
              col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"),
              lit(1L))
            .otherwise(lit(0L)))
        .withColumn("base0",
          coalesce(max(col("base")).over(
            Window.partitionBy(col("user_id"))), lit(0L)))
        .withColumn("session_id", col("base0") +
          sum(col("new_session")).over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("is_state") === 0)
        .select(col("user_id"), col("session_id"), col("event_type"),
          col("event_id"), col("ts"))
        .persist()
      val keys = Seq("user_id", "session_id")
      if (!stagesLedger.isReplayed(id)) {
        val tsT = assigned.schema("ts").dataType.sql
        val state =
          if (stagesLedger.isEmpty)
            assigned.select(col("user_id"), col("session_id"),
              lit(null).cast("long").as("tv"),
              lit(null).cast(tsT).as("tv_ts"),
              lit(null).cast("long").as("tc"),
              lit(null).cast(tsT).as("tc_ts"),
              lit(null).cast("long").as("tp"),
              lit(null).cast(tsT).as("tp_ts"),
              lit(null).cast("long").as("n_events"),
              lit(null).cast(tsT).as("first_ts"),
              lit(null).cast(tsT).as("last_ts")).limit(0)
          else ss.read.parquet(stagesLedger.path)
        val bn = assigned.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("bn"), min(col("ts")).as("bft"),
            max(col("ts")).as("blt"))
        val base = state.join(bn, keys, "full_outer")
          .withColumn("ne2", coalesce(col("n_events"), lit(0L)) +
            coalesce(col("bn"), lit(0L)))
          // session endpoint min/max-merge (least/greatest skip nulls)
          .withColumn("ft2", least(col("first_ts"), col("bft")))
          .withColumn("lt2", greatest(col("last_ts"), col("blt")))
        val bv = assigned.filter(col("event_type") === "view")
          .groupBy(keys.map(col): _*)
          .agg(min(col("event_id")).as("bv"), min(col("ts")).as("bv_ts"))
        val m1 = base.join(bv, keys, "left")
          .withColumn("tv2", coalesce(col("tv"), col("bv")))
          .withColumn("tv2_ts", coalesce(col("tv_ts"), col("bv_ts")))
        val bc = assigned.filter(col("event_type") === "click")
          .join(m1.select(col("user_id"), col("session_id"),
            col("tv2")), keys)
          .filter(col("event_id") > col("tv2"))
          .groupBy(keys.map(col): _*)
          .agg(min(col("event_id")).as("bc"), min(col("ts")).as("bc_ts"))
        val m2 = m1.join(bc, keys, "left")
          .withColumn("tc2", coalesce(col("tc"), col("bc")))
          .withColumn("tc2_ts", coalesce(col("tc_ts"), col("bc_ts")))
        val bp = assigned.filter(col("event_type") === "purchase")
          .join(m2.select(col("user_id"), col("session_id"),
            col("tc2")), keys)
          .filter(col("event_id") > col("tc2"))
          .groupBy(keys.map(col): _*)
          .agg(min(col("event_id")).as("bp"), min(col("ts")).as("bp_ts"))
        val m3 = m2.join(bp, keys, "left")
          .withColumn("tp2", coalesce(col("tp"), col("bp")))
          .withColumn("tp2_ts", coalesce(col("tp_ts"), col("bp_ts")))
        stagesLedger.write(m3.select(col("user_id"), col("session_id"),
          col("tv2").as("tv"), col("tv2_ts").as("tv_ts"),
          col("tc2").as("tc"), col("tc2_ts").as("tc_ts"),
          col("tp2").as("tp"), col("tp2_ts").as("tp_ts"),
          col("ne2").as("n_events"),
          col("ft2").as("first_ts"), col("lt2").as("last_ts")), id)
      }
      anchorsLedger.fold(id, assigned.groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"),
            max(col("event_id")).as("last_event_id"),
            max(col("session_id")).as("cur_session")))(
        _.groupBy(col("user_id"))
          .agg(max(col("last_ts")).as("last_ts"),
            max(col("last_event_id")).as("last_event_id"),
            max(col("cur_session")).as("cur_session")))
      assigned.unpersist()
    }
    spark.read.parquet(stagesLedger.path)
  }

  /** Streaming survival maintenance (q295): q291 per micro-batch.
    * The per-user (first_day, last_day) span is the mergeable
    * sufficient statistic — min/max-merge per user, which is
    * idempotent AND order-insensitive (a replayed or late batch
    * re-contributes the same endpoints), so no arrival contract is
    * needed; the ledger gate still skips replays to avoid version
    * churn. The drain runs
    * [[graft.operators.Lifecycle.survivalOf]] (the q291 finish,
    * including the corpus-max-day censoring anchor) verbatim: q291's
    * SQL is the oracle for ANY micro-batching.
    *
    * 100 TB shape: state is ONE row per user (two longs) — smaller
    * than the q276 (user, day) grain; per-batch work is one
    * map-side-combined user-grain aggregate plus a user-grain merge.
    */
  def streamingSurvival(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.survivalOf(
      eventsMergedState(spark, dir, "survival",
        graft.operators.Lifecycle.spansOf,
        _.groupBy(col("user_id"))
          .agg(min(col("first_day")).as("first_day"),
            max(col("last_day")).as("last_day")),
        sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot, "user_spans"))

  /** The shared stateful core behind q296/q297: maintains the
    * (event_type, epoch-day, count) grain —
    * [[graft.operators.Lifecycle.dailyCountsOf]], the sufficient
    * statistic for BOTH the CUSUM and the weekday-baseline reports —
    * as a sum-merged gated ledger. Sum-merge commutes
    * (order-insensitive, no arrival contract) but is not idempotent,
    * so the ledger gate skips crash replays. A 24/7 operator runs the
    * fold once and reads both anomaly reports off the same state.
    *
    * 100 TB shape: state is #types × #days rows (tiny); per-batch
    * work is one map-side-combined count of the batch plus a
    * grain-scale merge — the count history is never rescanned.
    */
  private def dailyCountState(spark: SparkSession, dir: String,
      op: String,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    eventsMergedState(spark, dir, op,
      graft.operators.Lifecycle.dailyCountsOf,
      _.groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n")),
      sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot, "daily_counts")

  /** Streaming CUSUM maintenance (q296): q292 per micro-batch — the
    * drain runs [[graft.operators.Lifecycle.cusumOf]] (dense grid +
    * closed-form windows) over the [[dailyCountState]] grain, so
    * q292's SQL is the oracle for ANY micro-batching.
    */
  def streamingCusum(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.cusumOf(
      sharedEventsState(spark, dir, "daily_counts", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        dailyCountState(_, dir, "cusum", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** Streaming weekday-baseline maintenance (q297): q281 per
    * micro-batch — the drain runs
    * [[graft.operators.Lifecycle.seasonalOf]] over the SAME
    * [[dailyCountState]] grain as q296, so q281's SQL is the oracle
    * for ANY micro-batching.
    */
  def streamingSeasonal(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.seasonalOf(
      sharedEventsState(spark, dir, "daily_counts", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        dailyCountState(_, dir, "seasonal", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** Streaming concurrency maintenance (q298): q290 per micro-batch.
    * Rides the [[funnelStages]] stateful core (q277's session anchors
    * keep cross-batch session identity and numbering), whose session
    * grain now carries each session's first/last event timestamp —
    * endpoints min/max-merge, so under the arrival contract the
    * drained (start_ts, end_ts) intervals equal the batch q20
    * sessions' exactly and the drain is
    * [[graft.operators.Sessionize.concurrencyOf]] (the sweep-line
    * finish) verbatim: q290's SQL is the oracle for ANY
    * micro-batching. Same state family as q277/q283/q285 — one
    * maintained fold, four reports.
    */
  def streamingConcurrency(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    val stages = funnelStagesFor(spark, dir, "concurrency", sourceDir,
      sourceGlob, maxFilesPerTrigger, stateRoot)
    graft.operators.Sessionize.concurrencyOf(
      stages.select(col("user_id"), col("session_id"),
        col("first_ts").as("start_ts"), col("last_ts").as("end_ts")))
  }

  /** The shared stateful core behind q300/q301: the distinct
    * (user_id, epoch-day) grain — [[graft.operators.Lifecycle]]'s
    * `userDays`, the sufficient statistic for the WHOLE epoch-day
    * lifecycle family — distinct-merged through a gated ledger.
    * Distinct-merge is idempotent AND order-insensitive, so no
    * arrival contract; the gate only avoids version churn on replay.
    * The calendar-date sibling of [[streamingRetention]]'s grain
    * (q166 keys on CAST(ts AS DATE); q273/q275 key on exact
    * epoch-day — under the UTC session the same partition of events).
    *
    * 100 TB shape: state is ≤ users × active-days rows; per-batch
    * work is one map-side-combined distinct plus a grain-scale
    * distinct-merge — one maintained fold, two growth reports.
    */
  private def userDayState(spark: SparkSession, dir: String,
      op: String,
      sourceDir: Option[String],
      sourceGlob: String,
      maxFilesPerTrigger: Option[Int],
      stateRoot: Option[String]): DataFrame =
    eventsMergedState(spark, dir, op,
      graft.operators.Lifecycle.userDays,
      _.distinct(),
      sourceDir, sourceGlob, maxFilesPerTrigger, stateRoot, "user_days")

  /** Streaming growth accounting (q300): q273 per micro-batch — the
    * drain runs [[graft.operators.Lifecycle.growthOf]] (the lag+lead
    * split) over the [[userDayState]] grain, so q273's SQL is the
    * oracle for ANY micro-batching.
    */
  def streamingGrowth(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.growthOf(
      sharedEventsState(spark, dir, "user_days", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        userDayState(_, dir, "growth", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** Streaming DAU/WAU stickiness (q301): q275 per micro-batch — the
    * drain runs [[graft.operators.Lifecycle.stickinessOf]] over the
    * SAME [[userDayState]] grain as q300.
    */
  def streamingStickiness(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame =
    graft.operators.Lifecycle.stickinessOf(
      sharedEventsState(spark, dir, "user_days", sourceDir,
        sourceGlob, maxFilesPerTrigger, stateRoot)(
        userDayState(_, dir, "stickiness", sourceDir, sourceGlob,
          maxFilesPerTrigger, stateRoot)))

  /** Streaming HLL cell maintenance (q302): q234 per micro-batch —
    * the q223 register-append discipline at the FINER (source, lang)
    * grain. Register max-merge is associative and idempotent over any
    * partition of the documents (the Wave6 roll-up identity), so ANY
    * micro-batch split and any replay drain to the batch cell table;
    * the exact-audit half re-reads the static corpus at drain time
    * (the q223 verification discipline — a production run keeps only
    * the estimator half). Shares q234's SQL.
    *
    * 100 TB shape: per-batch state is ≤ #cells × 256 register rows
    * regardless of batch size, compacted by [[StreamState]].
    */
  def streamingHllCells(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.TextOps
    import graft.sources.Tables
    val root = effectiveRoot(stateRoot, "hll_cells")
    val stateTab = stateDir(root, "registers")
    val stream = streamDocuments(spark, dir, sourceGlob,
      maxFilesPerTrigger, sourceDir)
    drain(stream, root) { (batch, id) =>
      val ss = batch.sparkSession
      StreamState.recover(ss, stateTab)
      TextOps.hllRegsKeyed(batch
          .select(col("source"), col("lang"),
            md5(col("text").cast("binary")).as("h")),
          Seq("source", "lang"))
        .write.mode("append").parquet(stateTab)
      StreamState.maybeCompact(ss, stateTab, tag = "hll_cells/registers")
    }
    val regSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("lang", StringType),
      StructField("reg", LongType),
      StructField("mrho", LongType)))
    val merged = spark.read.schema(regSchema).parquet(stateTab)
      .groupBy(col("source"), col("lang"), col("reg"))
      .agg(max(col("mrho")).as("mrho"))
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        md5(col("text").cast("binary")).as("h"))
      .persist()
    graft.Caches.onRelease(() =>
      try docs.unpersist(false) catch { case _: Throwable => () })
    TextOps.hllReportKeyed(docs, merged, Seq("source", "lang"))
  }

  /** Streaming Gini maintenance (q303): q299 per micro-batch — the
    * per-user stats the [[rfmState]] core already sum-merges
    * (n_events, cents) are exactly the per-key values q299's Gini
    * needs, so the drain runs the tie-group rank fold over the
    * drained user grain (events + cents entities) plus the STATIC
    * orders relation (the q76 stream-static discipline): q299's SQL
    * is the oracle for ANY micro-batching. Same state family as q279
    * — one maintained fold, two inequality reports.
    */
  def streamingGini(spark: SparkSession, dir: String,
      sourceDir: Option[String] = None,
      sourceGlob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      stateRoot: Option[String] = None): DataFrame = {
    import graft.operators.Audit
    val st = sharedEventsState(spark, dir, "rfm_state", sourceDir,
      sourceGlob, maxFilesPerTrigger, stateRoot)(
      rfmState(_, dir, "gini", sourceDir, sourceGlob,
        maxFilesPerTrigger, stateRoot))
    val ordCounts = graft.sources.Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("x"))
    Audit.giniOf(spark, st.select(col("n_events").as("x")),
        "events_per_user")
      .unionAll(Audit.giniOf(spark, st.select(col("cents").as("x")),
        "cents_per_user"))
      .unionAll(Audit.giniOf(spark, ordCounts, "orders_per_customer"))
      .orderBy(col("entity"))
  }
}
