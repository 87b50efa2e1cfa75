package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ChildSessions

import graft.sources.Tables

/** Headline analytical queries (TPC-H-shaped) — the bench workhorses.
  * Money arithmetic is decimal-exact end-to-end so the oracle matches
  * bit-for-bit; plans are shaped for scale: filters reach the parquet
  * scan, dimensions broadcast, aggregations pre-combine map-side.
  */
object Analytics {

  // narrow decimal widths: products of three 18-wide decimals overflow
  // DuckDB's 38-digit cap; prices fit in 12 digits, rates in 5
  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def rate(c: Column): Column = c.cast("decimal(5,2)")
  private val one = lit(1).cast("decimal(5,2)")

  /** TPC-H Q1-shaped pricing summary over lineitem. One scan, one
    * shuffle on a 6-value grouping key; all expressions codegen'd.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    pricingFinish(pricingStatOf(Tables.lineitem(spark, dir)))

  /** The q16 mergeable statistic: per (returnflag, linestatus) decimal
    * sums + count. Decimal addition is associative and exact, so
    * partial sums from any micro-batching merge to the batch answer —
    * q320's streaming state is exactly this table.
    */
  private[graft] def pricingStatOf(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).as("sq"),
        sum(dec(col("l_extendedprice"))).as("sbp"),
        sum(dec(col("l_extendedprice")) * (one - rate(col("l_discount"))))
          .as("sdp"),
        sum(dec(col("l_extendedprice")) * (one - rate(col("l_discount")))
          * (one + rate(col("l_tax")))).as("sc"),
        count(lit(1)).as("n"))

  private[graft] def pricingMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("sq")).as("sq"), sum(col("sbp")).as("sbp"),
        sum(col("sdp")).as("sdp"), sum(col("sc")).as("sc"),
        sum(col("n")).as("n"))

  private[graft] def pricingFinish(sums: DataFrame): DataFrame =
    sums.select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        col("sbp").cast("double").as("sum_base_price"),
        col("sdp").cast("double").as("sum_disc_price"),
        col("sc").cast("double").as("sum_charge"),
        col("n").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-shaped shipping priority: two joins + revenue top-10.
    * Customer side filtered before the join; order of joins lets AQE
    * broadcast the filtered build sides.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp_ntz"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("orderdate"),
        col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) *
          (one - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped regional revenue: five joins; all dimension sides
    * broadcast, the lineitem↔orders join is the only real shuffle.
    */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (one - rate(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Two-phase (salt-style) aggregation for skew resistance: partial
    * agg on (key, salt) then final agg on key. Result is identical to a
    * plain GROUP BY — which is exactly what the oracle checks — but no
    * single reducer ever sees a whole hot key.
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
    salted.groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Calendar gap-fill + forward-fill (q106): the timeseries
    * completion every reporting/feature pipeline needs — a dense
    * (event_type × day) grid over the corpus date span, zero-filled
    * counts, and the last observed daily total carried forward across
    * gap days. Sparse observations (high-value events only) make the
    * fill path real at every SF.
    *
    * Scale shape: the grid is a dimension product — |types| × |days|
    * rows, both tiny next to the corpus — built once and broadcast;
    * the corpus contributes one map-side-combined daily aggregation.
    * The forward-fill window partitions by type over calendar-length
    * frames, never corpus-length ones. Sums are decimal before
    * addition, so they're order-independent and oracle-exact (no
    * binary double can tie at a 10⁻ᵏ rounding quantum — q104's
    * argument).
    */
  def gapFillForwardFill(spark: SparkSession, dir: String,
      minValue: Double = 180.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        col("value"))
    val daily = ev.filter(col("value") >= minValue)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
    val cal = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    types.crossJoin(broadcast(cal))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(last(col("sv"), ignoreNulls = true).over(w)
          .cast("double"), lit(0.0)).as("carried"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n"), col("carried"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Daily event-rate anomaly scores (q143): per event type, each
    * day's count z-scored against its own trailing 7-day window
    * (rows-based, excluding the current day) — the volume-drift
    * monitor a production ingest pipeline alarms on.
    *
    * Determinism: the trailing sums (count, sum, sum of squares) are
    * exact BIGINTs; mean/variance/z follow ONE pinned formula
    * (`mean = s/c`, `var = ss/c − mean²`, `z = (n − mean)/sqrt(var)`)
    * so the handful of double ops round identically cross-engine.
    * Constant windows (var ≤ 0) emit z = 0 rather than NULL.
    *
    * 100 TB shape: one shuffle to daily counts (map-side combined),
    * one window per event type over ~365 rows/type/year — window
    * state is bounded by the calendar, not the event volume.
    */
  /** Cohort retention (q166): users bucketed by FIRST-activity day,
    * then the classic retention triangle — for each (cohort day, day
    * offset), how many of the cohort's users were active, as a count
    * and a share of the cohort. The missing staple of the events
    * analytics family next to sessionization (q20), the funnel (q144)
    * and rate anomalies (q143). Exact integer counts; the single
    * division is the only double op. Dates emitted as ISO strings
    * (the oracle-comparator date contract).
    *
    * 100 TB shape: one distinct over (user, day) — map-side combined —
    * one min-per-user aggregate, one broadcast-joinable cohort-size
    * table, one (cohort, offset) aggregate. All shuffles on ids/days.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    cohortTriangleOf(activityOf(Tables.events(spark, dir)))

  /** The distinct (user_id, activity-date) grain q166 aggregates —
    * also the mergeable sufficient statistic q276's streaming twin
    * keeps as state (distinct-merge is idempotent + order-insensitive,
    * and [[graft.operators.Lifecycle]]'s epoch-day reports derive
    * their grain from the same dates).
    */
  private[graft] def activityOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()

  /** The q166 finish arithmetic over a (user_id, d) activity grain —
    * shared by the batch triangle and q276's streaming drain.
    */
  private[graft] def cohortTriangleOf(activityRaw: DataFrame): DataFrame = {
    val activity = activityRaw.persist()
    val first = activity.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort"))
    val sizes = first.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    activity
      .join(first, Seq("user_id"))
      .withColumn("day_offset", datediff(col("d"), col("cohort"))
        .cast("long"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select(col("cohort").cast("string").as("cohort"),
        col("day_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") /
          col("cohort_size").cast("double")).as("retention"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("c", count(col("n")).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .filter(col("c") === 7)
      .withColumn("mean", col("s").cast("double") / col("c").cast("double"))
      .withColumn("vr",
        col("ss").cast("double") / col("c").cast("double") -
          col("mean") * col("mean"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n"),
        when(col("vr") > 0,
          (col("n").cast("double") - col("mean")) / sqrt(col("vr")))
          .otherwise(lit(0.0)).as("z"))
      .orderBy(col("event_type"), col("day"))
  }

  /** EWMA rate anomaly (q208): the exponential-decay sibling of
    * [[rateAnomaly]]'s z-score — each (event_type, day) count is
    * compared against the exponentially-weighted mean of the 8
    * preceding observed days (decay 3/4 per day, the operations-
    * monitoring default that weights yesterday 4× over a week ago,
    * where q143's flat window weights them equally). The whole
    * comparison is EXACT integer arithmetic: weight for lag j is
    * 3^(j-1)·4^(8−j) (the decay fraction cleared of its denominator),
    * so num/den are BIGINTs and the spike decision `n·den > 2·num`
    * never touches a double — the only doubles are the two final
    * presentation divisions, computed by one pinned formula in both
    * engines.
    *
    * 100 TB shape: identical to q143 — one map-side-combined daily
    * aggregate (days × types rows, ≪ events), one partitioned window
    * with 8 lags. The anomaly table is days×types no matter the event
    * volume.
    */
  def ewmaAnomaly(spark: SparkSession, dir: String): DataFrame =
    ewmaFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n")))

  /** The q208 window arithmetic over a prepared (event_type, day, n)
    * daily table — split out so the streaming maintenance path (q210)
    * shares it bit-for-bit with the batch query.
    */
  private[graft] def ewmaFromDaily(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val terms = (1 to 8).map { j =>
      val wj = BigInt(3).pow(j - 1).toLong * BigInt(4).pow(8 - j).toLong
      val lj = lag(col("n"), j).over(w)
      (coalesce(lj * lit(wj), lit(0L)),
        when(lj.isNotNull, lit(wj)).otherwise(lit(0L)))
    }
    daily
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      .filter(col("den") > 0)
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("ewma"),
        ((col("n") * col("den")).cast("double") /
          col("num").cast("double")).as("ratio"),
        when(col("n") * col("den") > lit(2L) * col("num"), 1L)
          .otherwise(0L).as("spike"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Distributed PageRank (q133): `rounds` power-iteration steps over
    * the customer↔supplier purchase graph (distinct (custkey, suppkey)
    * pairs from orders⋈lineitem, both directions — the bipartite
    * random walk). PageRank is the classic link-quality signal a
    * web-curation pipeline weights documents by; here it grades the
    * same shape on the star schema.
    *
    * Exactness: ranks are BIGINT fixed-point at 1e12. Initial rank
    * `SCALE div N`, per-edge contribution `rank div degree`, update
    * `(15·(SCALE div N)) div 100 + (85·Σ contribs) div 100` — every
    * step integer division on positive values, so both engines agree
    * bit-for-bit with no FP anywhere until the final display division.
    *
    * 100 TB shape: the rank vector lives DISTRIBUTED (never on the
    * driver — unlike the bounded quantizer models, rank state is
    * corpus-sized). Each round is one hash join of ranks to the edge
    * list plus one map-side-combined sum on the destination key —
    * the canonical Pregel-style iteration as two shuffles on the same
    * key, and AQE handles hub skew. Degrees are computed once.
    *
    * `checkpointMode` picks the round-boundary materialization:
    * - `"local"` (default, right for single-node bench): eager
    *   `localCheckpoint` — lineage truncated into executor-local
    *   blocks; cheapest, but NOT fault-tolerant (lose an executor
    *   mid-iteration and the blocks are unrecomputable).
    * - `"reliable"`: eager `checkpoint()` to the SparkContext
    *   checkpoint dir (set one on HDFS/S3 for a cluster run; a
    *   tracked temp dir is provisioned here if unset) — each round's
    *   ranks survive executor loss, the right call when `rounds` ×
    *   cluster-hours is too expensive to replay. Both modes are
    *   bit-identical (spec-pinned): the mode changes WHERE the round
    *   boundary materializes, never the arithmetic.
    */
  def pageRank(spark: SparkSession, dir: String,
      rounds: Int = 2, checkpointMode: String = "local"): DataFrame =
    pageRankFrom(spark,
      Tables.lineitem(spark, dir).select(col("l_orderkey"),
          col("l_suppkey"))
        .join(Tables.orders(spark, dir).select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct(),
      rounds, checkpointMode)

  /** [[pageRank]] over an explicit distinct `(c, s)` bipartite edge
    * relation — split out so IterScaleProbe can drive the round loop
    * on synthesized decade-apart graphs.
    */
  private[graft] def pageRankFrom(spark: SparkSession, cs: DataFrame,
      rounds: Int = 2, checkpointMode: String = "local"): DataFrame = {
    require(checkpointMode == "local" || checkpointMode == "reliable",
      s"checkpointMode must be local|reliable, got $checkpointMode")
    import spark.implicits._
    val scale = 1000000000000L
    // persist the distinct pair relation: every derived relation below
    // (degrees, nodes, both union branches of the weighted edge table)
    // reads it, and without the cache the upstream join+distinct would
    // run once per consumer (plan-audited)
    val csP = cs.persist()
    // Setup without a single wide exchange (guide §2.4): in the
    // symmetrized bipartite graph, a node's out-degree IS its distinct-
    // pair count on its own side, so the degrees come from two
    // map-side-combined aggregates over the cached pairs (customer and
    // supplier grain — small), the node set is the union of the two
    // key sets (no 2|E|-row distinct), and the weighted edge table
    // attaches degrees via two BROADCAST joins instead of shuffling
    // the 2|E|-row union against a 2|E|-row aggregate. The previous
    // shape paid 3 corpus-grain exchanges here (node distinct, degree
    // agg, degree join).
    val degC = csP.groupBy(col("c")).agg(count(lit(1)).as("dc"))
      .persist()
    val degS = csP.groupBy(col("s")).agg(count(lit(1)).as("ds"))
      .persist()
    val nodes = degC.select(lit("c").as("t"), col("c").as("id"))
      .unionByName(degS.select(lit("s").as("t"), col("s").as("id")))
    val withDeg = csP.join(broadcast(degC), Seq("c"))
      .join(broadcast(degS), Seq("s"))
    val edgesWd = withDeg
      .select(lit("c").as("st"), col("c").as("sid"),
        lit("s").as("dt"), col("s").as("did"), col("dc").as("deg"))
      .unionByName(withDeg
        .select(lit("s").as("st"), col("s").as("sid"),
          lit("c").as("dt"), col("c").as("did"), col("ds").as("deg")))
      .persist()
    val n = degC.count() + degS.count()
    val base = (15L * (scale / n)) / 100L
    // Right-size the LOOP's reduce parallelism to the rank vector
    // (guide §2): every per-round exchange carries node-grain rows, so
    // the session's shuffle.partitions — sized for corpus-grain scans —
    // over-parallelizes the loop (32 near-empty partitions ×2 joins
    // ×rounds was exactly the r18 scaling block's 8-core-beats-32
    // inversion). Integer rank sums are partitioning-invariant, so
    // results are bit-identical at any width. The loop runs on a child
    // session at that width; the caller's session conf is untouched.
    val loopParts = math.max(1L, math.min(n / 2000000L + 1L,
      spark.conf.get("spark.sql.shuffle.partitions").toLong)).toString
    val loop = ChildSessions.withConfs(spark,
      Map("spark.sql.shuffle.partitions" -> loopParts))
    val edgesL = ChildSessions.rebind(edgesWd, loop)
    val nodesL = ChildSessions.rebind(nodes, loop)
    val sc = spark.sparkContext
    val reliable = checkpointMode == "reliable"
    // Loop shape (guide §1.2 step 1 + §3.1): the rank vector is
    // node-grain — when it fits the broadcast envelope (n ≤ 4M ⇒
    // ≲128 MB, far under the 8 GB/512M-row cap) the per-round join
    // already ships it through the driver as a broadcast build. The
    // fast path leans into that: per round, ONE distributed job
    // computes the edge-grain contribution sums (edgesWd ⋈
    // broadcast(rank rows) + map-side-combined sum) and collects the
    // ≤ n node-grain sums; the rank update (base + 85%·sum, integer
    // div) is O(n) driver arithmetic — the same rows the broadcast
    // build would have collected anyway, minus the two extra driver
    // jobs (checkpoint write + second broadcast build) and one of the
    // two per-round Catalyst plans the checkpointed shape paid.
    // Measured: 3 jobs + 2 plans ≈ 0.5 s/round of machinery at ANY
    // graph size; this shape ≈ 0.15 s/round. A graph past the
    // broadcast envelope falls back to the distributed
    // checkpoint-truncated loop below, arithmetic unchanged
    // (spec-pinned bit-identical against an independent driver walk).
    val driverCap = 4000000L
    val ranked =
      if (!reliable && n <= driverCap) {
        val nodeKeys = nodesL.as[(String, Long)].collect()
        var rank: Map[(String, Long), Long] =
          nodeKeys.iterator.map(_ -> scale / n).toMap
        for (_ <- 1 to rounds) {
          val ranksDf = rank.iterator
            .map { case ((t, id), r) => (t, id, r) }
            .toSeq.toDF("t", "id", "r")
          val sums = edgesL
            .join(broadcast(ranksDf),
              col("st") === col("t") && col("sid") === col("id"))
            .groupBy(col("dt").as("t2"), col("did").as("id2"))
            .agg(sum(expr("r div deg")).as("s"))
            .as[(String, Long, Long)].collect()
          val sumsMap = sums.iterator
            .map { case (t, id, s) => (t, id) -> s }.toMap
          rank = nodeKeys.iterator.map(k =>
            k -> (base + (85L * sumsMap.getOrElse(k, 0L)) / 100L)).toMap
        }
        rank.iterator.map { case ((t, id), r) =>
            (t, id, r, r.toDouble / 1e12) }
          .toSeq.toDF("t", "id", "rank_fp", "rank")
          .orderBy(col("t"), col("id"))
      } else {
        // distributed loop: eager checkpoint per round truncates
        // lineage (plan depth O(1) in `rounds`, spec-pinned), in-loop
        // sweep frees superseded rank blocks
        if (reliable && sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(graft.Caches.trackTempDir(
            java.nio.file.Files.createTempDirectory("graft_ckpt_"))
            .toString)
        // materialize the weighted edge cache BEFORE the loop: the
        // in-loop block sweep snapshots persistent-RDD ids per round,
        // and a cache first materializing INSIDE round 1 lands in the
        // diff and gets swept after round 2 — later rounds then
        // silently recompute the degree attach (measured ~6× the
        // cached cost per round)
        edgesL.count()
        // the per-round rank/sum vectors exit the checkpoint as
        // LogicalRDDs with no statistics — hint broadcast while the
        // vector provably fits (guide §3.1); a bigger graph keeps SMJ
        val hintSmall: DataFrame => DataFrame =
          if (n <= driverCap) broadcast else identity
        var ranks = nodesL.withColumn("r", lit(scale / n))
        var prevCkpt = Set.empty[Int]
        for (_ <- 1 to rounds) {
          val sums = edgesL
            .join(hintSmall(ranks),
              col("st") === col("t") && col("sid") === col("id"))
            .groupBy(col("dt").as("t2"), col("did").as("id2"))
            .agg(sum(expr("r div deg")).as("s"))
          val before = sc.getPersistentRDDs.keySet.toSet
          val next = nodesL
            .join(hintSmall(sums),
              col("t") === col("t2") && col("id") === col("id2"), "left")
            .select(col("t"), col("id"),
              (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
          ranks = if (reliable) next.checkpoint(eager = true)
            else next.localCheckpoint(true)
          prevCkpt.foreach(id => sc.getPersistentRDDs.get(id)
            .foreach(rdd => try rdd.unpersist(blocking = false)
              catch { case _: Throwable => () }))
          prevCkpt = sc.getPersistentRDDs.keySet.toSet -- before
        }
        ranks
          .select(col("t"), col("id"), col("r").as("rank_fp"),
            (col("r").cast("double") / lit(1e12)).as("rank"))
          .orderBy(col("t"), col("id"))
      }
    ChildSessions.rebind(ranked, spark)
  }

  /** Daily trending table (q189): per day, the top-k event types by
    * exact count with each type's rank movement against the previous
    * OBSERVED day (prev_rk 0 = first appearance) — the ops dashboard
    * staple next to q143's z-score anomalies: q143 flags a type whose
    * own rate jumps; this flags the reshuffling of the leaderboard.
    *
    * 100 TB shape: one map-side-combined daily aggregate (types ×
    * days rows); both windows run over that aggregate, not the event
    * stream — the q143 discipline.
    */
  def eventTrending(spark: SparkSession, dir: String,
      topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy(col("day"))
      .orderBy(col("n").desc, col("event_type"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("rk", row_number().over(byDay).cast("long"))
      .withColumn("prev_rk",
        coalesce(lag(col("rk"), 1).over(byType), lit(0L)))
      .filter(col("rk") <= topK)
      .select(col("day").cast("string").as("day"), col("rk"),
        col("event_type"), col("n"), col("prev_rk"),
        (col("prev_rk") - col("rk")).as("rk_delta"))
      .orderBy(col("day"), col("rk"))
  }

  /** Triangle census of the verified near-duplicate graph (q183): per
    * document, its degree and the number of duplicate TRIANGLES it sits
    * in — the graph-shape diagnostic that separates pairwise noise from
    * genuine template clusters (a triangle is the smallest evidence
    * that three documents are mutually near-identical; clusters rich in
    * triangles are the ones q148's canonical selection collapses
    * hardest). Edges are the q95 oracled minhash pairs, so the whole
    * census is cross-engine checkable.
    *
    * 100 TB shape: the classic degree-orientation bound — every edge is
    * oriented from its lower-(degree, id) endpoint to the higher, so
    * wedge generation at a node is quadratic in its OUT-degree, which
    * orientation caps at O(√m) for any graph (arboricity bound); the
    * closing-edge check is an equi-join back to the canonical edge set.
    * Each triangle is produced exactly once, at its unique
    * lowest-(degree, id) apex. Edge volume itself is bounded upstream
    * by banding + the hot-bucket quarantine (`Dedup.BandBucketCap`).
    */
  def dupGraphTriangles(spark: SparkSession, dir: String): DataFrame =
    // canonical edges, id_a < id_b
    triangleCensus(Dedup.dupEdges(spark, dir)
      .select(col("id_a").as("a"), col("id_b").as("b")))

  /** Core census over a canonical (a < b) edge relation — split out so
    * the golden spec can pin the orientation/wedge/closure arithmetic
    * on a hand-built graph.
    */
  private[graft] def triangleCensus(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("degree"))
    val oriented = und
      .join(deg.select(col("u"), col("degree").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("degree").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
    val wedges = oriented.select(col("u"), col("v").as("ta"))
      .join(oriented.select(col("u"), col("v").as("tb")), "u")
      .filter(col("ta") < col("tb"))
    val triangles = wedges
      .join(edges.select(col("a").as("ta"), col("b").as("tb")),
        Seq("ta", "tb"))
    val triNodes = triangles
      .select(explode(array(col("u"), col("ta"), col("tb"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.select(col("u").as("doc_id"), col("degree"))
      .join(triNodes, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Last-touch attribution (q214): each purchase is attributed to the
    * user's most recent click no older than one hour — the canonical
    * marketing-attribution join, expressed as a running MAX over a
    * conditional window (max of click timestamps over the preceding
    * frame IS the latest one, because the frame is time-ordered — no
    * IGNORE NULLS dependency, which engines spell differently). Daily
    * rollup: purchases, attributed count/rate, attributed revenue in
    * integer cents (floor(value·100 + 0.5) before the sum, so the
    * money aggregate is BIGINT-exact cross-engine).
    *
    * 100 TB shape: one (user)-partitioned window over the event scan
    * (the q20 sessionize sort, reused), one map-side-combined daily
    * aggregate. No self-join — the classic as-of formulation (q21)
    * would join events×events; the window form is linear, and lives
    * as the reusable [[AsOf.asOfAttribution]] so it is the default
    * shape, not a q214-local trick (r9 verdict ask).
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    AsOf.asOfAttribution(
        Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value")),
        isSource = col("event_type") === "click",
        isTarget = col("event_type") === "purchase",
        horizonSeconds = 3600L)
      .withColumnRenamed("asof_matched", "att")
      .withColumn("cents",
        floor(col("value") * 100 + lit(0.5)).cast("long"))
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("att")).as("n_attributed"),
        (sum(col("att")).cast("double") / count(lit(1)).cast("double"))
          .as("attribution_rate"),
        sum(when(col("att") === 1L, col("cents")).otherwise(0L))
          .as("attributed_cents"))
      .select(col("day").cast("string").as("day"), col("n_purchases"),
        col("n_attributed"), col("attribution_rate"),
        col("attributed_cents"))
      .orderBy(col("day"))
  }

  /** Position-based (U-shaped) multi-touch attribution (q249): q214's
    * last-touch rule replaced by the position-weighted split every
    * marketing/mixing pipeline also runs — each purchase distributes
    * its value over the clicks in its preceding hour: one click takes
    * all of it, two split 50/50, three-plus give 40% to the first,
    * 40% to the last, and the middles share the remaining 20% evenly.
    * Credits are exact micro-unit longs (cents × micro-share, ONE
    * shared rounding formula for the middle share), so the daily
    * rollup hash-matches cross-engine.
    *
    * 100 TB shape: the purchase×click pairing is a per-user range
    * join (candidate-bounded by the horizon — the q72 shape) whose
    * output immediately collapses to PURCHASE grain (count only);
    * credit arithmetic is row-local on purchases; the rollup is a
    * #days-row aggregate.
    */
  def positionAttribution(spark: SparkSession, dir: String,
      horizonSeconds: Long = 3600L): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val m = purch.join(clicks,
        col("c_user") === col("p_user") &&
          (col("c_ts") < col("p_ts") ||
            (col("c_ts") === col("p_ts") && col("c_id") < col("p_id"))) &&
          col("c_ts") >= col("p_ts") -
            expr(s"INTERVAL $horizonSeconds SECOND"), "left")
      .groupBy(col("p_id"), col("p_ts"), col("cents"))
      .agg(count(col("c_id")).as("m"))
    val mid = (col("m") - 2L) *
      floor(col("cents").cast("double") * lit(200000.0) /
        (col("m") - 2L).cast("double") + lit(0.5)).cast("long")
    m.select(col("p_ts"), col("cents"), col("m"),
        when(col("m") === 0L, 0L)
          .when(col("m") === 1L, col("cents") * 1000000L)
          .when(col("m") === 2L, col("cents") * 500000L)
          .otherwise(col("cents") * 400000L).as("first_credit"),
        when(col("m") <= 1L, 0L)
          .when(col("m") === 2L, col("cents") * 500000L)
          .otherwise(col("cents") * 400000L).as("last_credit"),
        when(col("m") <= 2L, 0L).otherwise(mid).as("mid_credit"))
      .groupBy(col("p_ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("m") > 0L, 1L).otherwise(0L)).as("n_attributed"),
        sum(col("first_credit")).as("first_credit_micro"),
        sum(col("last_credit")).as("last_credit_micro"),
        sum(col("mid_credit")).as("mid_credit_micro"))
      .select(col("day").cast("string").as("day"), col("n_purchases"),
        col("n_attributed"), col("first_credit_micro"),
        col("last_credit_micro"), col("mid_credit_micro"))
      .orderBy(col("day"))
  }

  /** Conversion latency via FORWARD as-of (q250): for every click, the
    * time to the user's NEXT purchase (strictly later in (ts, id)
    * order), converted within a one-hour horizon — the other direction
    * of the q214/q221 as-of family, and the table a funnel owner reads
    * next to the attribution rate (how MANY convert is q214; how FAST
    * is this). Linear plan: ONE per-user window over the event scan in
    * REVERSE time order (running min of purchase (ts, id) over the
    * already-seen suffix = the next purchase) — no events×events join;
    * the oracle IS the classic forward as-of join + argmin, so the two
    * formulations stay pinned equal cross-engine (the q221
    * discipline). Latencies are exact micro-difference longs floored
    * to seconds.
    */
  def conversionLatency(spark: SparkSession, dir: String,
      horizonSeconds: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val conv = ev
      .withColumn("next_p",
        min(when(col("event_type") === "purchase",
          struct(col("ts"), col("event_id")))).over(w))
      .filter(col("event_type") === "click")
      .withColumn("lat_sec",
        ((expr("unix_micros(cast(next_p.ts as timestamp))") -
          expr("unix_micros(cast(ts as timestamp))")) /
          lit(1000000L)).cast("long"))
      .withColumn("converted",
        when(col("next_p").isNotNull &&
          col("lat_sec") <= horizonSeconds, 1L).otherwise(0L))
    conv
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("converted")).as("n_converted"),
        (sum(col("converted")).cast("double") /
          count(lit(1)).cast("double")).as("conversion_rate"),
        coalesce(sum(when(col("converted") === 1L, col("lat_sec"))),
          lit(0L)).as("total_latency_sec"),
        coalesce(max(when(col("converted") === 1L, col("lat_sec"))),
          lit(0L)).as("max_latency_sec"))
      .select(col("day").cast("string").as("day"), col("n_clicks"),
        col("n_converted"), col("conversion_rate"),
        col("total_latency_sec"), col("max_latency_sec"))
      .orderBy(col("day"))
  }

  /** Event-grain as-of attribution (q221): [[AsOf.asOfAttribution]]'s
    * per-target rows exposed directly — each purchase with the
    * timestamp of the user's most recent strictly-earlier click and
    * the within-one-hour attribution flag. q214 is this relation's
    * daily rollup; emitting the event grain makes the operator itself
    * oracle-checked: the ORACLE is the classic as-of JOIN form
    * (purchase ⋈ earlier clicks, argmax click ts, horizon check), so
    * the linear window plan and the join formulation are pinned equal
    * cross-engine — the q21/q214 unification the r9 verdict asked for,
    * as a standing correctness gate instead of a one-off spec.
    *
    * 100 TB shape: ONE (user)-partitioned window over the event scan —
    * the join form the oracle uses would be an events×events range
    * join; the engine never runs it.
    */
  def asOfAttributionEvents(spark: SparkSession, dir: String): DataFrame =
    AsOf.asOfAttribution(
        Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        isSource = col("event_type") === "click",
        isTarget = col("event_type") === "purchase",
        horizonSeconds = 3600L)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format(col("asof_src_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("click_ts"),
        col("asof_matched").as("attributed"))
      .orderBy(col("event_id"))

  /** Degree profile + assortativity of the duplicate graph (q212): the
    * degree histogram (how many documents have d duplicate witnesses)
    * and the degree-assortativity coefficient — Pearson correlation of
    * endpoint degrees over edges. Together with q183 (triangles) and
    * q204 (k-core) this completes the graph-shape tripod: a heavy tail
    * plus high assortativity means duplication concentrates in large
    * mutually-connected template families (collapse hard), while a
    * flat low-assortativity profile is pairwise noise (review before
    * deleting). Exactness: over the SYMMETRIC edge list Σdu = Σdv and
    * Σdu² = Σdv², so Pearson reduces to integer sums and ONE final
    * division — bit-identical cross-engine, zero tolerance.
    *
    * 100 TB shape: degrees are one map-side-combined count over edges;
    * the histogram is a count over the (≪ corpus) node relation; the
    * assortativity sums are one aggregate over the degree-joined edge
    * list. No pair expansion anywhere.
    */
  def dupGraphDegrees(spark: SparkSession, dir: String): DataFrame =
    degreeProfile(Dedup.dupEdges(spark, dir)
      .select(col("id_a").as("a"), col("id_b").as("b")))

  private[graft] def degreeProfile(edges: DataFrame): DataFrame = {
    // materialization barrier: the edge relation (for the dup graph, a
    // whole shingle→band→verify chain) feeds FOUR branches (degrees,
    // histogram, totals, assortativity sums) — without it each branch
    // re-executes the chain
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .persist()
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .persist()
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val totals = deg.agg(count(lit(1)).as("n_total"))
    val sums = sym
      .join(deg.select(col("u"), col("degree").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("degree").as("dv")), "v")
      .agg(count(lit(1)).as("m"), sum(col("du")).as("sj"),
        sum(col("du") * col("du")).as("sjj"),
        sum(col("du") * col("dv")).as("sjk"))
    val den = col("m") * col("sjj") - col("sj") * col("sj")
    val assort = sums.select(
      when(den === 0L, lit(0.0)).otherwise(
        (col("m") * col("sjk") - col("sj") * col("sj")).cast("double") /
          den.cast("double")).as("assort"))
    hist.crossJoin(totals).crossJoin(assort)
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("n_total").cast("double"))
          .as("frac"),
        col("assort"))
      .orderBy(col("degree"))
  }

  /** k-core decomposition of the verified near-duplicate graph (q204):
    * per document its initial degree, whether it survives the k-core
    * peel (iteratively delete every node of degree < k until fixpoint),
    * and its degree INSIDE the surviving core. The 2-core separates
    * robust template clusters (every member has ≥2 independent
    * duplicate witnesses) from pairwise-only matches — exactly the
    * confidence split a curation reviewer wants before q148's
    * keep-one-per-cluster collapse deletes data. Edges are the q95
    * oracled minhash pairs, so the whole decomposition is cross-engine
    * checkable (the oracle unrolls the peel; [[kCorePeel]] returns the
    * round count so the spec can pin convergence within the unroll).
    *
    * 100 TB shape: each peel round is one equi-join of the symmetric
    * edge list against the surviving-node set plus a map-side-combined
    * degree count — linear in edges, no pair expansion. Rounds needed =
    * the peel depth, which on near-dup graphs (cliques + short chains)
    * is small; the loop carries the q133/CC localCheckpoint discipline
    * (O(1) plan depth, superseded round blocks freed deterministically).
    * Edge volume is bounded upstream by banding + the hot-bucket
    * quarantine.
    */
  def dupGraphKCore(spark: SparkSession, dir: String,
      k: Int = 2): DataFrame = {
    val (census, rounds) = kCorePeel(
      Dedup.dupEdges(spark, dir)
        .select(col("id_a").as("a"), col("id_b").as("b")), k)
    // the DuckDB oracle unrolls exactly KCoreRounds peel rounds; a
    // graph that needs more would silently diverge cross-engine, so
    // the contract is enforced HERE, not only in the fixture spec
    require(rounds <= graft.oracles.OracleDedup.KCoreRounds,
      s"k-core peel took $rounds rounds > oracle unroll " +
        s"${graft.oracles.OracleDedup.KCoreRounds} — widen KCoreRounds " +
        "and re-derive the q204 oracle before trusting this result")
    census
  }

  /** Peel loop over a canonical (a < b) edge relation; returns the
    * census and the number of peel rounds actually run (fixpoint
    * included — the last round observes zero deletions).
    */
  private[graft] def kCorePeel(edges: DataFrame, k: Int,
      maxIters: Int = 30): (DataFrame, Int) = {
    val sc = edges.sparkSession.sparkContext
    def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def freeIds(ids: Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id)
        .foreach(r => try r.unpersist(blocking = false)
          catch { case _: Throwable => () }))
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .persist()
    val deg0 = sym.groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .persist()
    val before0 = persistedIds
    var alive = deg0.filter(col("degree") >= k).select(col("u"))
      .localCheckpoint(true)
    var prevCkpt = persistedIds -- before0
    var nAlive = alive.count()
    var rounds = 0
    try {
      var changed = true
      while (changed && rounds < maxIters) {
        rounds += 1
        // degree restricted to the surviving induced subgraph: both
        // endpoints must be alive (two semi-join-shaped equi-joins)
        val before = persistedIds
        val next = sym
          .join(alive, "u")
          .join(alive.select(col("u").as("v")), "v")
          .groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("u"))
          .localCheckpoint(true)
        val thisRound = persistedIds -- before
        freeIds(prevCkpt)
        prevCkpt = thisRound
        val n = next.count()
        changed = n != nAlive
        nAlive = n
        alive = next
      }
      // a maxIters exit with deletions still happening means the
      // returned census is NOT the k-core — fail loudly instead of
      // handing back a silently-unconverged fixpoint
      if (changed)
        throw new IllegalStateException(
          s"k-core peel did not converge within $maxIters rounds " +
            s"($nAlive nodes still alive and changing)")
      val coreDeg = sym
        .join(alive, "u")
        .join(alive.select(col("u").as("v")), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("core_degree"))
      val out = deg0.select(col("u").as("doc_id"), col("degree"))
        .join(coreDeg.select(col("u").as("doc_id"), col("core_degree")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("degree"),
          when(col("core_degree").isNotNull, 1L).otherwise(0L)
            .as("in_core"),
          coalesce(col("core_degree"), lit(0L)).as("core_degree"))
        .orderBy(col("doc_id"))
      // materialize before freeing the loop's checkpoint blocks
      val rows = out.localCheckpoint(true)
      (rows, rounds)
    } finally {
      freeIds(prevCkpt)
      sym.unpersist(blocking = false)
      deg0.unpersist(blocking = false)
    }
  }

  /** Event debounce (q257): suppress an event when the PREVIOUS raw
    * event of the same (user, type) lies within `gapSeconds` — the
    * duplicate-submission / retry-burst screen every ingest runs
    * before counting (the reference dedups re-fetched rows by key the
    * same way, saveToPostgres.js ON CONFLICT). The rule is against
    * the previous RAW event, not the previous KEPT one: that keeps it
    * a single `lag` — no iterative chain — and matches the "burst
    * extender" semantics (a retry storm suppresses everything after
    * its first event even when the storm outlasts one gap). Exact
    * integer microsecond arithmetic; the kept rate is the only
    * double, computed in one final division.
    *
    * 100 TB shape: ONE (user, type)-partitioned window over the event
    * scan, then a map-side-combined count to ≤ #types rows. No joins,
    * no state, no second pass.
    */
  def eventDebounce(spark: SparkSession, dir: String,
      gapSeconds: Long = 3600L): DataFrame =
    debounceRollup(debounceFlags(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")), gapSeconds))

  /** Per-event suppression flags — shared by the batch rollup and the
    * streaming twin's per-batch fold (state rows enter as synthetic
    * previous events and are filtered out by `is_state`).
    */
  private[graft] def debounceFlags(ev: DataFrame,
      gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("suppressed",
        when(col("prev_ts").isNotNull &&
          expr("unix_micros(cast(ts as timestamp))") -
            expr("unix_micros(cast(prev_ts as timestamp))") <=
            gapSeconds * 1000000L, 1L).otherwise(0L))
  }

  /** Rollup half of q257 — the streaming twin sum-merges the same
    * per-type counts through its ledger and drains through this
    * arithmetic, so q257's SQL is its oracle verbatim.
    */
  private[graft] def debounceRollup(flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("suppressed")).as("n_suppressed"))
      .select(col("event_type"), col("n_events"), col("n_suppressed"),
        (col("n_events") - col("n_suppressed")).as("n_kept"),
        ((col("n_events") - col("n_suppressed")).cast("double") /
          col("n_events").cast("double")).as("kept_rate"))
      .orderBy(col("event_type"))

  /** Debounce gap sweep (q272): q257's kept-rate evaluated at four
    * candidate gaps (1 min / 10 min / 1 h / 4 h) from ONE keyed window
    * pass — the q264-style decision table for SIZING the debounce gap
    * (read next to q260's histogram: pick the gap where kept_rate
    * stops falling). Each gap is a conditional sum over the same lag,
    * not a re-scan; the wide partials then stack into (type, gap)
    * rows.
    *
    * 100 TB shape: one (user, type) window over the event scan, one
    * map-side-combined aggregate to #types rows × 4 conditional sums,
    * then a driver-scale unpivot. No joins, no row blowup.
    */
  def debounceGapSweep(spark: SparkSession, dir: String,
      gaps: Seq[Long] = Seq(60L, 600L, 3600L, 14400L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = expr("unix_micros(cast(ts as timestamp))") -
      expr("unix_micros(cast(prev_ts as timestamp))")
    val sums = gaps.map(g =>
      sum(when(col("prev_ts").isNotNull &&
        gapUs <= g * 1000000L, 1L).otherwise(0L)).as(s"s$g"))
    val wide = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sums: _*)
    val stackArgs = gaps.map(g => s"${g}L, s$g").mkString(", ")
    wide.select(col("event_type"), col("n_events"),
        expr(s"stack(${gaps.length}, $stackArgs) " +
          "as (gap_sec, n_suppressed)"))
      .select(col("event_type"), col("gap_sec"), col("n_events"),
        col("n_suppressed"),
        (col("n_events") - col("n_suppressed")).as("n_kept"),
        ((col("n_events") - col("n_suppressed")).cast("double") /
          col("n_events").cast("double")).as("kept_rate"))
      .orderBy(col("event_type"), col("gap_sec"))
  }

  /** Inter-event gap histogram (q260): per event_type, the log2
    * histogram of seconds between a user's consecutive events of that
    * type — the distribution that SIZES q257's debounce gap, q20's
    * session timeout and a streaming watermark delay (pick the bucket
    * where the burst mass ends). Buckets are exact integer log2 via
    * the bit-length identity (`length(bin(g)) - 1`, the HLL rho
    * trick): gap g seconds lands in bucket b iff 2^b <= g < 2^(b+1),
    * with g = 0 folded into bucket 0. All columns are exact longs.
    *
    * 100 TB shape: the same single keyed window as q257, then a
    * map-side-combined count to ≤ types × ~40 buckets rows.
    */
  def eventGapHistogram(spark: SparkSession, dir: String): DataFrame =
    gapRollup(gapBuckets(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("is_state", lit(0))))
      .orderBy(col("event_type"), col("bucket"))

  /** Per-gap (event_type, gap_sec, bucket) rows — shared by the batch
    * histogram and the streaming twin's per-batch fold, where the last
    * prior event per (user, type) re-enters as a synthetic previous
    * row (`is_state` = 1, contributing ONLY as a lag anchor) so the
    * cross-batch gap is computed by the same lag rule.
    */
  private[graft] def gapBuckets(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("is_state") === 0 && col("prev_ts").isNotNull)
      .withColumn("gap_sec",
        floor((expr("unix_micros(cast(ts as timestamp))") -
          expr("unix_micros(cast(prev_ts as timestamp))")) /
          lit(1000000L)).cast("long"))
      .withColumn("bucket",
        when(col("gap_sec") <= 1L, lit(0L))
          .otherwise(length(bin(col("gap_sec"))).cast("long") - 1L))
  }

  /** Histogram rollup half of q260 — count/min/max/sum per (type,
    * bucket) are all associative+commutative, so the streaming twin
    * merges per-batch partials through its ledger with the SAME
    * aggregate shapes and drains to q260's oracle verbatim.
    */
  private[graft] def gapRollup(gaps: DataFrame): DataFrame =
    gaps.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_sec")).as("min_gap_sec"),
        max(col("gap_sec")).as("max_gap_sec"),
        sum(col("gap_sec")).as("sum_gap_sec"))

  /** Cumulative distinct-user curve (q259): per day, the number of
    * users EVER seen up to that day — exact and HLL-estimated, side by
    * side. The exact side never rescans: each user contributes one
    * (first_day) row and the curve is a prefix sum over the ≤ #days
    * first-seen counts. The estimate side max-merges the per-day
    * register tables cumulatively — the mergeability that makes the
    * sketch the 100 TB path (yesterday's registers + today's batch,
    * never the history). Same md5 register/rho construction and exact
    * BIGINT harmonic sums as q222; the two curves' relative error per
    * day is the sketch-trust audit.
    *
    * 100 TB shape: register state is metadata-sized (days × 256 rows);
    * the day-expansion join and the prefix-sum window run on ≤ #days
    * rows. The only corpus-scale work is one map-side-combined fold to
    * (day, reg, mrho) and one (user → min day) aggregate.
    */
  def hllUserCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("user_id"))
    val hashed = ev.select(col("day"),
      md5(col("user_id").cast("string").cast("binary")).as("h"))
    val regs = TextOps.hllRegsKeyed(hashed, Seq("day"))
    val days = ev.select(col("day")).distinct()
    // cumulative register state per day: metadata-scale inequality
    // join (days × day-registers), then max-merge
    val cum = days.select(col("day").as("as_of"))
      .join(regs, col("day") <= col("as_of"))
      .groupBy(col("as_of"), col("reg"))
      .agg(max(col("mrho")).as("mrho"))
    val est = cum
      .groupBy(col("as_of"))
      .agg(count(lit(1)).as("registers_hit"),
        sum(expr("CAST(pow(2.0, 49 - mrho) AS BIGINT)")).as("s_hit"))
      .withColumn("s_scaled", col("s_hit") +
        (lit(256L) - col("registers_hit")) * lit(562949953421312L))
      .withColumn("v0", lit(256L) - col("registers_hit"))
      .withColumn("raw_estimate",
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
          lit(65536.0) * lit(562949953421312.0) /
          col("s_scaled").cast("double"))
      .withColumn("estimate",
        when(col("v0") > 0L && col("raw_estimate") <= lit(640.0),
          lit(256.0) * log(lit(256.0) / col("v0").cast("double")))
          .otherwise(col("raw_estimate")))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("n_new"))
    val exact = days.select(col("day"))
      .join(firstSeen, col("first_day") === col("day"), "left")
      .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      // ≤ #days rows: the unpartitioned window is metadata-scale
      .withColumn("exact_cum",
        sum(col("n_new")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    exact.join(est, exact("day") === est("as_of"))
      .select(col("day").cast("string").as("day"), col("n_new"),
        col("exact_cum"), col("registers_hit"), col("s_scaled"),
        col("raw_estimate"), col("estimate"),
        ((col("estimate") - col("exact_cum").cast("double")) /
          col("exact_cum").cast("double")).as("rel_err"))
      .orderBy(col("day"))
  }

  /** Synchronous label propagation (q327): community detection over
    * the verified dup graph — every node starts as its own label; for
    * a FIXED number of synchronous rounds each node adopts its
    * neighbors' most frequent label (ties to the smallest), which
    * makes the algorithm fully deterministic and therefore oracled
    * round-for-round in SQL (the asynchronous/randomized variant is
    * not reproducible cross-engine). The community view that
    * complements the q148/q193 connected components: CC says "these
    * documents touch", LPA says which DENSE cores they cluster into.
    *
    * 100 TB shape: each round is one edges⋈labels join (shuffle on
    * node id) + a node-grain mode; rounds are a fixed constant and
    * each round's result is persisted (a barrier, so the iterative
    * plan never re-derives prior rounds). Node/edge grain is the dup
    * graph — orders of magnitude below corpus grain.
    */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 4): DataFrame =
    labelPropagationFrom(Dedup.dupEdges(spark, dir)
      .select(col("id_a").as("u"), col("id_b").as("w")), rounds)

  /** [[labelPropagation]] over an explicit `(u, w)` edge relation —
    * split out so IterScaleProbe can drive the synchronous-round
    * machinery on synthesized decade-apart graphs.
    */
  private[graft] def labelPropagationFrom(edges: DataFrame,
      rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = edges
      .unionAll(edges.select(col("w").as("u"), col("u").as("w")))
      .persist()
    var labels = und.select(col("u")).distinct()
      .withColumn("lbl", col("u"))
      .persist()
    val byNode = Window.partitionBy(col("u"))
      .orderBy(col("cnt").desc, col("lbl"))
    (1 to rounds).foreach { _ =>
      val next = und
        .join(labels.select(col("u").as("w"), col("lbl")), Seq("w"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(byNode))
        .filter(col("rn") === 1)
        .select(col("u"), col("lbl"))
        .persist()
      next.count() // materialization barrier before dropping the prior round
      labels.unpersist(false)
      labels = next
    }
    labels.select(col("u").as("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  /** TPC-H Q4-shaped late-shipment audit (q315): per order priority,
    * total orders, orders with at least one line shipped > 60 days
    * after the order date, and the late rate. 100 TB shape: lineitem
    * joins orders on the order key (the one real shuffle), the late
    * set collapses to ORDER grain before counting, and the output is
    * #priorities rows.
    */
  def latePriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    lateFinish(lateStatOf(Tables.lineitem(spark, dir), ord), ord)
  }

  /** The q315 mergeable statistic: the DISTINCT late (orderkey,
    * priority) set — distinct-merge is idempotent and
    * order-insensitive, so q324's streaming state is exactly this
    * table (lineitem streams; orders is the static side, the q76
    * discipline).
    */
  private[graft] def lateStatOf(li: DataFrame, ord: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") +
        expr("INTERVAL 60 DAYS"))
      .select(col("o_orderkey"), col("o_orderpriority")).distinct()

  private[graft] def lateFinish(lateSet: DataFrame, ord: DataFrame)
      : DataFrame = {
    val late = lateSet
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_late"))
    ord.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
      .join(late, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"), col("n_orders"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        (coalesce(col("n_late"), lit(0L)).cast("double") /
          col("n_orders").cast("double")).as("late_rate"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q10-shaped returned-item report (q316): top 20 customers by
    * revenue lost to returned lines, with nation. Money in the q16
    * decimal discipline; total order (revenue desc, custkey) makes the
    * LIMIT deterministic. 100 TB shape: the returnflag filter reaches
    * the lineitem scan, the fact join shuffles on the order key, and
    * the name join runs at CUSTOMER grain against broadcast dims.
    */
  def returnedRevenue(spark: SparkSession, dir: String): DataFrame =
    returnedFinish(spark, dir,
      returnedStatOf(Tables.lineitem(spark, dir),
        Tables.orders(spark, dir)))

  /** The q316 mergeable statistic: per-customer returned-revenue
    * decimal sums — q322's streaming state.
    */
  private[graft] def returnedStatOf(li: DataFrame, ord: DataFrame)
      : DataFrame =
    li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (one - rate(col("l_discount")))).as("revd"))

  private[graft] def returnedMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("o_custkey")).agg(sum(col("revd")).as("revd"))

  private[graft] def returnedFinish(spark: SparkSession, dir: String,
      rev: DataFrame): DataFrame =
    rev
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revd").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q14-shaped promo revenue share (q317): per ship month, the
    * percentage of discounted revenue from PROMO-type parts. 100 TB
    * shape: part is a broadcast dim; one shuffle onto #months rows;
    * both sums fold in decimal and the share is one division.
    */
  def promoShare(spark: SparkSession, dir: String): DataFrame =
    promoFinish(promoStatOf(Tables.lineitem(spark, dir),
      Tables.part(spark, dir)))

  /** The q317 mergeable statistic: per-month promo/total decimal sums
    * + line count — q321's streaming state (part is the broadcast
    * static side).
    */
  private[graft] def promoStatOf(li: DataFrame, part: DataFrame)
      : DataFrame = {
    val zero = lit(0).cast("decimal(12,2)") * one
    val disc = dec(col("l_extendedprice")) * (one - rate(col("l_discount")))
    li.select(col("l_partkey"),
        trunc(col("l_shipdate").cast("date"), "month").cast("string")
          .as("ship_month"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(zero))
          .as("promo_rev"),
        sum(disc).as("total_rev"),
        count(lit(1)).as("n_lines"))
  }

  private[graft] def promoMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("ship_month"))
      .agg(sum(col("promo_rev")).as("promo_rev"),
        sum(col("total_rev")).as("total_rev"),
        sum(col("n_lines")).as("n_lines"))

  private[graft] def promoFinish(sums: DataFrame): DataFrame =
    sums.select(col("ship_month"), col("n_lines"),
        col("promo_rev").cast("double").as("promo_revenue"),
        col("total_rev").cast("double").as("total_revenue"),
        (lit(100.0) * col("promo_rev").cast("double") /
          col("total_rev").cast("double")).as("promo_share_pct"))
      .orderBy(col("ship_month"))

  /** TPC-H Q15-shaped top supplier (q318): suppliers achieving the
    * maximum revenue over a fixed ship-date quarter — emitted as the
    * full tie set (decimal equality is exact, so the tie predicate is
    * engine-identical). 100 TB shape: the date filter reaches the
    * scan; revenue folds at SUPPLIER grain; the max is a one-row
    * broadcast back onto that grain.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame =
    topSupplierFinish(spark, dir,
      topSupplierStatOf(Tables.lineitem(spark, dir)))

  /** The q318 mergeable statistic: per-supplier quarter-revenue
    * decimal sums — q323's streaming state.
    */
  private[graft] def topSupplierStatOf(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (one - rate(col("l_discount")))).as("revd"))

  private[graft] def topSupplierMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_suppkey")).agg(sum(col("revd")).as("revd"))

  private[graft] def topSupplierFinish(spark: SparkSession, dir: String,
      rev: DataFrame): DataFrame = {
    val mx = rev.agg(max(col("revd")).as("mx"))
    rev.join(broadcast(mx), col("revd") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("revd").cast("double").as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-shaped small-quantity audit (q319): per brand, lines
    * whose quantity is below HALF the part's average quantity — the
    * "small order" revenue a bulk-pricing review looks at. The
    * threshold is CROSS-MULTIPLIED (2·n·qty < Σqty, all
    * decimal/integer — no division anywhere), so the predicate is
    * exact and engine-identical. 100 TB shape: the per-part average is
    * one map-side-combined fold; the threshold join runs at part
    * grain; brand rollup output is #brands rows.
    */
  def smallQuantityBrand(spark: SparkSession, dir: String): DataFrame =
    smallQuantityFromCells(
      smallQuantityCellsOf(Tables.lineitem(spark, dir),
        Tables.part(spark, dir)))

  /** The q319 mergeable statistic: (partkey, quantity, brand) cells
    * with line count + decimal revenue. All lines in a cell share one
    * quantity, so the half-of-average threshold qualifies a WHOLE
    * cell at once — which is what makes the statistic sufficient even
    * though the threshold itself is only known at drain time (q340
    * maintains these cells per micro-batch and applies the final
    * corpus-wide threshold at drain).
    */
  private[graft] def smallQuantityCellsOf(li: DataFrame,
      part: DataFrame): DataFrame =
    li.select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), dec(col("l_quantity")).as("qty"),
        col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).as("ext"))

  private[graft] def smallQuantityMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_partkey"), col("qty"), col("p_brand"))
      .agg(sum(col("n")).as("n"), sum(col("ext")).as("ext"))

  private[graft] def smallQuantityFromCells(cells: DataFrame)
      : DataFrame = {
    val c = cells.persist()
    val pa = c.groupBy(col("l_partkey"))
      .agg(sum(col("qty") * col("n")).as("sq"),
        sum(col("n")).as("np"))
    c.join(pa, Seq("l_partkey"))
      .filter(col("qty") * lit(2) * col("np") < col("sq"))
      .groupBy(col("p_brand"))
      .agg(sum(col("n")).as("n_small_lines"),
        sum(col("ext")).cast("double").as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q6-shaped forecast revenue (q365): one filtered scan, one
    * global decimal sum — the canonical pushdown row (every predicate
    * reaches the parquet scan; no join, no shuffle beyond the final
    * 1-row fold). The discount band compares in integer CENTS
    * (round(d·100) ∈ [5,7]) so the band edges cannot drift between
    * engines on double representation.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    forecastFinish(forecastStatOf(Tables.lineitem(spark, dir)))

  /** The q365 mergeable statistic: one (decimal revenue, line count)
    * cell — q369's streaming state.
    */
  private[graft] def forecastStatOf(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
        && round(col("l_discount") * 100).cast("int").between(5, 7)
        && col("l_quantity") < 24)
      .agg(coalesce(sum(dec(col("l_extendedprice")) *
          rate(col("l_discount"))), lit(0).cast("decimal(22,4)"))
        .as("sr"),
        count(lit(1)).as("n"))

  private[graft] def forecastMerge(rows: DataFrame): DataFrame =
    rows.agg(sum(col("sr")).as("sr"), sum(col("n")).as("n"))

  private[graft] def forecastFinish(sums: DataFrame): DataFrame =
    sums.select(col("sr").cast("double").as("revenue"),
      col("n").as("n_lines"))

  /** TPC-H Q13-shaped order-count distribution (q366): how many
    * customers placed exactly k recent orders — the engagement
    * histogram (zero-order customers included via the left join, the
    * bucket the inner-join version silently drops).
    *
    * 100 TB shape: one shuffle on the customer key to the per-customer
    * count, then a ≤ #distinct-counts-row aggregate.
    */
  def orderCountDistribution(spark: SparkSession, dir: String)
      : DataFrame = {
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >=
        lit("2000-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(col("n_custs").desc, col("c_count").desc)
  }

  /** TPC-H Q18-shaped large-volume customers (q367): orders whose
    * total line quantity reaches 250, with their customer. Quantity
    * sums in the q16 decimal discipline; total order (qty desc,
    * orderkey) makes the report deterministic.
    */
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame =
    largeVolumeFinish(spark, dir,
      volumeStatOf(Tables.lineitem(spark, dir)))

  /** The q367 mergeable statistic: per-order decimal quantity sum +
    * line count — q370's streaming state (order grain, ≤ #orders
    * rows; dims join at drain).
    */
  private[graft] def volumeStatOf(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("sq"),
        count(lit(1)).as("nl"))

  private[graft] def volumeMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_orderkey"))
      .agg(sum(col("sq")).as("sq"), sum(col("nl")).as("nl"))

  private[graft] def largeVolumeFinish(spark: SparkSession, dir: String,
      sums: DataFrame): DataFrame =
    sums.filter(col("sq") >= lit(250))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"),
        col("sq").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))

  /** TPC-H Q22-shaped idle-balance audit (q368): high-balance
    * customers with NO recent orders, rolled up per market segment —
    * the dormant-capital report. "High" is above the positive-balance
    * mean, compared CROSS-MULTIPLIED (bal·n_pos > Σ_pos — the q319
    * discipline) so no division ever happens and the threshold is
    * exact in both engines.
    *
    * 100 TB shape: the mean's (Σ, n) is one broadcast row; the recent
    * set joins anti at customer grain; the rollup is ≤ #segments rows.
    */
  def idleBalanceAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val posStat = cust.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("sp"), count(lit(1)).as("np"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >=
        lit("2001-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    cust.crossJoin(broadcast(posStat))
      .filter(dec(col("c_acctbal")) * col("np") > col("sp"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(dec(col("c_acctbal"))).cast("double").as("balance_mass"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q7-shaped volume shipping (q371): revenue between each
    * cross-nation (supplier nation, customer nation) pair WITHIN one
    * region, by ship year. The classic two-nation literal pair is
    * vacuous on the synthetic fixture (25 nations over small
    * customer/supplier sets), so the report keeps every EUROPE pair —
    * no magic constants, total-ordered.
    */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame =
    volumeShipFinish(volumeShipMerge(
      volumeShipCellsOf(spark, dir, Tables.lineitem(spark, dir))))

  /** The q371 mergeable statistic: (supp_nation, cust_nation, year)
    * decimal revenue + count cells — q374's streaming state. The
    * nation/region/supplier sides broadcast; orders⋈customer is the
    * static enrich side (the q322 discipline).
    */
  private[graft] def volumeShipCellsOf(spark: SparkSession, dir: String,
      li: DataFrame): DataFrame = {
    val nat = broadcast(Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("n_nationkey"), col("n_name")))
    val supp = broadcast(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val ordC = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("n_name").as("cust_nation"))
    li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ordC, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) *
          (one - rate(col("l_discount")))).as("rev"),
        count(lit(1)).as("n"))
  }

  private[graft] def volumeShipMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))

  private[graft] def volumeShipFinish(sums: DataFrame): DataFrame =
    sums.select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("rev").cast("double").as("revenue"), col("n").as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))

  /** TPC-H Q8-shaped market share (q372): for ASIA customers buying
    * PROMO parts, each supplier nation's revenue share per order
    * year. Decimal sums end-to-end; the share divides two doubles
    * ONCE at the end (IEEE-identical cross-engine).
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val custAsia = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
          .join(Tables.region(spark, dir),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNat = broadcast(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val promoParts = broadcast(Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey")))
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(promoParts, col("l_partkey") === col("p_partkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"))
          .join(custAsia, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
        col("supp_nation"))
      .agg(sum(dec(col("l_extendedprice")) *
        (one - rate(col("l_discount")))).as("rev"))
    val byYear = Window.partitionBy(col("o_year"))
    cells.select(col("o_year"), col("supp_nation"),
        col("rev").cast("double").as("nation_rev"),
        sum(col("rev")).over(byYear).cast("double").as("total_rev"))
      .withColumn("mkt_share", col("nation_rev") / col("total_rev"))
      .orderBy(col("o_year"), col("supp_nation"))
  }

  /** TPC-H Q19-shaped disjunctive-band revenue (q373): three OR'd
    * (brand, size band, quantity band) predicates over the part join —
    * the disjunctive-pushdown shape. One (revenue, count) cell.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame =
    forecastFinish(disjunctiveMerge(
      disjunctiveStatOf(spark, dir, Tables.lineitem(spark, dir))))

  /** The q373 mergeable statistic — q375's streaming state (part is
    * the broadcast static side per batch, the q321 discipline).
    */
  private[graft] def disjunctiveStatOf(spark: SparkSession, dir: String,
      li: DataFrame): DataFrame = {
    def band(brand: String, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    li.select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(band("Brand#11", 15, 1, 11) ||
        band("Brand#12", 25, 10, 20) ||
        band("Brand#13", 35, 20, 30))
      .agg(coalesce(sum(dec(col("l_extendedprice")) *
          (one - rate(col("l_discount")))), lit(0).cast("decimal(22,4)"))
        .as("sr"),
        count(lit(1)).as("n"))
  }

  private[graft] def disjunctiveMerge(rows: DataFrame): DataFrame =
    rows.agg(sum(col("sr")).as("sr"), sum(col("n")).as("n"))
}
