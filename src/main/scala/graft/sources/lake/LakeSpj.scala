package graft.sources.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.LedgerArtifacts

/** STORAGE-PARTITIONED JOINS on the lake format (block 106,
  * q552/q553): two tables identity-partitioned on the same column
  * join WITHOUT shuffling either side — the scan reports
  * `KeyGroupedPartitioning` over its per-value splits
  * ([[LakeScan.outputPartitioning]], [[LakeKeyedSplit]]), and
  * Catalyst's EnsureRequirements recognizes the co-partitioning and
  * drops both exchanges. At 100 TB this is THE co-location win: a
  * fact table and its per-day companion never move across the
  * network for a day-aligned join; only the merge-sort within each
  * day's partition runs.
  *
  * The fixture pair (both identity(day)-partitioned, one file per
  * day):
  *  - FACT: raw events — (day, event_id, user_id, cents);
  *  - DAILY: the per-(day, user) activity summary derived from the
  *    same corpus — (day, user_id, n_ev, day_cents).
  * Joining them on (day, user_id) enriches every event with its
  * user's daily totals; the partition keys [day] are a SUBSET of the
  * join keys, the shape `requireAllClusterKeysForCoPartition=false`
  * exists for.
  *
  * The SPJ confs are flipped only inside the audit/query functions
  * (and restored): broadcast must be off to exhibit the
  * partitioned-join plan at fixture scale — at production scale
  * neither fact side broadcasts and the conf flip is moot.
  *
  * Reference anchor: the enrichment joins of `preloadRedis.js:52-61`
  * — the engine-level answer to "never ship the big table".
  */
object LakeSpj {

  /** Epoch-day + integer-cents projection of the events corpus — the
    * shared frame both tables and both DuckDB twins derive from.
    */
  private[lake] def eventFrame(spark: SparkSession,
      dir: String): DataFrame =
    Tables.events(spark, dir).select(
      datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        .as("day"),
      col("event_id"), col("user_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))

  /** The FACT table: events, identity(day)-partitioned, one file per
    * day (`file_id` = the day itself — distinct by construction).
    */
  def ensureFactTable(spark: SparkSession, dir: String): String = {
    val ev = eventFrame(spark, dir)
    val fp = LedgerArtifacts.fingerprint(
      ev.select(col("event_id"), col("day")),
      Seq("event_id", "day"))
    GraftLake.ensureLake(spark,
      s"lake2_spjfact_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("day", "long"), ("event_id", "long"),
          ("user_id", "long"), ("cents", "long"))
        val zcols = Seq("event_id", "user_id")
        val filed = ev.withColumn("file_id", col("day"))
        val lines = GraftLake.writeFiles(spark, fs, staging, "data",
          filed, zcols, None, Some("day"))
        GraftLake.writeText(fs, s"$staging/_manifest.tsv",
          (GraftLake.headerOf(cols, zcols, None,
            Some("identity(day)")) +: lines)
            .mkString("", "\n", "\n"))
    }
  }

  /** The DAILY companion: per-(day, user) activity summary,
    * CO-PARTITIONED with the fact (same identity(day) transform,
    * same one-file-per-day layout).
    */
  def ensureDailyTable(spark: SparkSession, dir: String): String = {
    val ev = eventFrame(spark, dir)
    val daily = ev.groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"), sum(col("cents")).as("day_cents"))
    val fp = LedgerArtifacts.fingerprint(
      ev.select(col("event_id"), col("day")),
      Seq("event_id", "day"))
    GraftLake.ensureLake(spark,
      s"lake2_spjdaily_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("day", "long"), ("user_id", "long"),
          ("n_ev", "long"), ("day_cents", "long"))
        val zcols = Seq("user_id")
        val filed = daily.withColumn("file_id", col("day"))
        val lines = GraftLake.writeFiles(spark, fs, staging, "data",
          filed, zcols, None, Some("day"))
        GraftLake.writeText(fs, s"$staging/_manifest.tsv",
          (GraftLake.headerOf(cols, zcols, None,
            Some("identity(day)")) +: lines)
            .mkString("", "\n", "\n"))
    }
  }

  /** The DSv2-WRITTEN PARTITIONED table (block 107, q554/q555):
    * created empty with `identity(day)` declared, then populated by
    * two `df.write.format(lake)` appends (day halves of the events
    * corpus) — the write path DEMANDS rows clustered + sorted by the
    * partition column ([[LakeWriteBuilder]]'s
    * `RequiresDistributionAndOrdering`), so every committed file
    * carries exactly one pval and the planner's partition pruning
    * holds on DSv2-written data. The second batch is then REPLAYED
    * with its original id and must no-op.
    */
  def ensurePartWriteTable(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.types._
    val ev = eventFrame(spark, dir)
    val fp = LedgerArtifacts.fingerprint(
      ev.select(col("event_id"), col("day")), Seq("event_id", "day"))
    GraftLake.ensureLake(spark,
      s"lake2_pwrite_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        GraftLake.createTable(fs, staging, StructType(Seq(
          StructField("day", LongType),
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("cents", LongType))),
          Seq("event_id", "user_id"), None, Some("identity(day)"))
        val mid = ev.agg(min(col("day"))).collect()(0).getLong(0) + 14L
        def appendHalf(pred: org.apache.spark.sql.Column,
            id: String): Unit = ev.filter(pred)
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", staging).option("batchId", id)
          .mode("append").save()
        appendHalf(col("day") < mid, "pw-b0")
        appendHalf(col("day") >= mid, "pw-b1")
        // the crash-retry replay: recognized, no-ops
        appendHalf(col("day") >= mid, "pw-b1")
    }
  }

  /** q554: the partitioned-write audit — per snapshot: files (ONE
    * per day per batch, the clustering contract), rows, distinct
    * pvals; `versions_committed` pins the replay no-op (3, not 4).
    * DuckDB re-derives every count from raw events.
    */
  def lakePwriteAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensurePartWriteTable(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(GraftLake.hadoopConf)
    val nVersions = GraftLake.committedVersions(fs, root).length.toLong
    (0L to 2L).map { v =>
      val m = GraftLake.readMeta(root, Some(v))
      (v, m.files.length.toLong, m.files.map(_.nRows).sum,
        m.files.flatMap(_.pval).distinct.length.toLong, nVersions)
    }.toDF("version", "n_files", "n_rows", "n_days",
        "versions_committed")
      .orderBy(col("version"))
  }

  /** q555: partition pruning on the DSv2-WRITTEN table — a one-week
    * day window plans exactly that week's files (one per day), plus
    * an event_id zone probe composed on top; rows through the pruned
    * scan match DuckDB over raw events.
    */
  def lakePwritePruned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    val root = ensurePartWriteTable(spark, dir)
    val ev = eventFrame(spark, dir)
    val d0 = ev.agg(min(col("day"))).collect()(0).getLong(0)
    val (lo, hi) = (d0 + 7L, d0 + 13L)
    val filesTotal = GraftLake.readMeta(root).files.length.toLong
    val week = Array[Filter](GreaterThanOrEqual("day", lo),
      LessThanOrEqual("day", hi))
    val maxEid = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val weekAndZone = week ++ Array[Filter](
      LessThanOrEqual("event_id", maxEid / 2L))
    val df = GraftLake.dfFor(spark, root)
    Seq(
      ("1_week", filesTotal, GraftLake.plannedFiles(root, week),
        df.filter(col("day") >= lo && col("day") <= hi).count()),
      ("2_week_zone", filesTotal,
        GraftLake.plannedFiles(root, weekAndZone),
        df.filter(col("day") >= lo && col("day") <= hi &&
          col("event_id") <= maxEid / 2L).count()))
      .toDF("probe_id", "files_total", "files_planned", "n_rows")
      .orderBy(col("probe_id"))
  }

  /** Run `f` on a child session under the SPJ plan regime (v2
    * bucketing on, broadcast off, subset cluster keys allowed). The
    * caller's session conf is never written, so queries planned on it
    * meanwhile, from any thread, keep their broadcasts.
    */
  private def withSpjConfs[T](spark: SparkSession,
      bucketing: Boolean)(f: SparkSession => T): T =
    f(org.apache.spark.sql.graft.ChildSessions.withConfs(spark, Map(
      "spark.sql.sources.v2.bucketing.enabled" -> bucketing.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")))

  /** Shuffle-exchange count in the plan Spark prepared for `df`. */
  private def countShuffles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(expand)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    expand(root).count {
      case _: ShuffleExchangeLike => true
      case _ => false
    }.toLong
  }

  private def freshJoin(spark: SparkSession, dir: String): DataFrame =
    GraftLake.dfFor(spark, ensureFactTable(spark, dir))
      .join(GraftLake.dfFor(spark, ensureDailyTable(spark, dir)),
        Seq("day", "user_id"))

  /** q552: the SPJ plan audit — the same (day, user) join planned
    * twice: with the co-partitioning recognized (ZERO shuffles — the
    * storage-partitioned join) and with v2 bucketing off (both sides
    * shuffle). Partition counts and the row count are corpus-derived
    * and DuckDB-checked; the shuffle counts are the CONTRACT.
    */
  def lakeSpjPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val factRoot = ensureFactTable(spark, dir)
    val nDays = GraftLake.readMeta(factRoot).files
      .flatMap(_.pval).distinct.length.toLong
    def plan(bucketing: Boolean) = withSpjConfs(spark, bucketing) { spj =>
      val j = freshJoin(spj, dir)
      val n = j.count()
      (countShuffles(j), n)
    }
    val (spjShuffles, spjRows) = plan(bucketing = true)
    val (ctlShuffles, ctlRows) = plan(bucketing = false)
    Seq(("1_spj", nDays, spjShuffles, spjRows),
      ("2_shuffled", nDays, ctlShuffles, ctlRows))
      .toDF("mode", "n_day_partitions", "n_shuffles", "n_rows")
      .orderBy(col("mode"))
  }

  /** q553: the enrichment THROUGH the storage-partitioned join —
    * every event joined to its user's daily totals, rolled up per
    * weekday. Executed eagerly under the SPJ regime (zero shuffles
    * below the join, asserted), value-checked by DuckDB from raw
    * events.
    */
  def lakeSpjRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = withSpjConfs(spark, bucketing = true) { spj =>
      val j = freshJoin(spj, dir)
      val rollup = j
        .groupBy((col("day") % 7L).as("weekday"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          sum(col("n_ev")).as("sum_group"))
        .orderBy(col("weekday"))
      val out = rollup.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      require(countShuffles(j) == 0L,
        "lake-spj: the enrichment join must plan shuffle-free")
      out.toSeq
    }
    rows.toDF("weekday", "n_events", "sum_cents", "sum_group")
      .orderBy(col("weekday"))
  }
}
