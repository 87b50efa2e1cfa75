package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ChildSessions, SingleSplitScanExec}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The small-scan strategy removes exchanges only where the scan
  * really is read as one task — a one-split scan, or a small listing of
  * several splits under `CoalesceExec(1)` — and never changes an
  * answer. Runs on the shared (shipped) session; `plain` is a child
  * session without it.
  */
class SingleSplitScanSpec extends SparkSpec {

  private lazy val plain: SparkSession = spark.newSession()

  private def query(prefix: String): Registry.Q =
    Registry.queries.collectFirst {
      case (name, fn) if name.startsWith(prefix + "_") => fn
    }.get

  /** Every node of the prepared plan: AQE stages and subqueries too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(nodes)
  }

  private def shuffles(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])

  private def wrapped(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case w: SingleSplitScanExec => w }
      .size

  /** Small multi-split scans planned as one task. */
  private def coalesced(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case c @ CoalesceExec(1, _: FileSourceScanExec) => c
    }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempDir(tag: String): String =
    SparkSpec.tempDir(s"graft_onesplit_$tag").toString

  /** `n` rows of (k, v) as a parquet directory of exactly `files` files. */
  private def writeParquet(tag: String, n: Int, files: Int): String = {
    val path = tempDir(tag) + "/t"
    spark.range(n).select((col("id") % 7).as("k"), col("id").as("v"))
      .repartition(files).write.parquet(path)
    assert(new java.io.File(path).list().count(_.endsWith(".parquet")) == files)
    path
  }

  /** Total size of a parquet directory's data files. */
  private def bytes(path: String): Long =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum

  test("crm_etl: q01/q02/q44 plan without shuffles; every query's rows unchanged") {
    Seq("q01", "q02", "q44").foreach { q =>
      val df = query(q)(spark, sfDir)
      df.collect()
      assert(wrapped(df) > 0, s"$q: no scan wrapped")
      assert(shuffles(df) == 0,
        s"$q still shuffles:\n${df.queryExecution.executedPlan}")
      Caches.releaseAll(spark)
    }
    Seq("q01", "q02", "q03", "q04", "q40", "q41", "q42", "q43", "q44", "q65")
      .foreach { q =>
        val expected = rows(query(q)(plain, sfDir))
        Caches.releaseAll(plain)
        val got = rows(query(q)(spark, sfDir))
        Caches.releaseAll(spark)
        assert(got == expected, s"$q: rows differ with the strategy")
      }
  }

  private def grouped(s: SparkSession, path: String) =
    s.read.parquet(path).groupBy(col("k")).agg(sum(col("v")).as("s"))
      .orderBy(col("k"))

  /** A child session whose maxSplitBytes (1 KB) is below every test listing. */
  private def narrow: SparkSession = ChildSessions.withConfs(spark, Seq(
    "spark.sql.files.maxPartitionBytes" -> "1024",
    "spark.sql.files.openCostInBytes" -> "1024"))

  /** A two-file listing above maxSplitBytes packs into several splits, so
    * it keeps its exchanges; a small one reads as one task (next test).
    */
  test("a two-file input keeps its exchanges; one file drops them") {
    val onePath = writeParquet("one", 1000, 1)
    val twoPath = writeParquet("two", 1000, 2)
    val one = grouped(spark, onePath)
    assert(wrapped(one) == 1 && shuffles(one) == 0)
    assert(bytes(twoPath) > 1024)
    val two = grouped(narrow, twoPath)
    assert(wrapped(two) == 0 && coalesced(two) == 0 && shuffles(two) > 0,
      s"two-split scan lost its exchange:\n${two.queryExecution.executedPlan}")
    assert(two.collect().toSeq == one.collect().toSeq)
    assert(two.collect().toSeq == grouped(plain, twoPath).collect().toSeq)
  }

  test("a small multi-file input reads as one task and matches the plain read") {
    val threePath = writeParquet("three", 1000, 3)
    val three = grouped(spark, threePath)
    assert(coalesced(three) == 1 && wrapped(three) == 0 && shuffles(three) == 0,
      s"three-file scan kept an exchange:\n${three.queryExecution.executedPlan}")
    assert(three.collect().toSeq == grouped(plain, threePath).collect().toSeq)
    // the one task reads the splits in the order a multi-task collect does
    assert(spark.read.parquet(threePath).collect().toSeq ==
      plain.read.parquet(threePath).collect().toSeq)

    val above = grouped(narrow, threePath)
    assert(wrapped(above) == 0 && coalesced(above) == 0 && shuffles(above) > 0,
      s"listing above the bound lost its exchange:\n${above.queryExecution.executedPlan}")
    assert(above.collect().toSeq == three.collect().toSeq)
  }

  test("a join against a multi-split side shuffles and matches the plain join") {
    val small = writeParquet("jsmall", 500, 1)
    val big = writeParquet("jbig", 2000, 3)
    // a child whose maxSplitBytes holds the one-file side but not the
    // three-file one, which packs into several splits
    val bound = bytes(small)
    assert(bytes(big) > bound)
    val split = ChildSessions.withConfs(spark, Seq(
      "spark.sql.files.maxPartitionBytes" -> bound.toString,
      "spark.sql.files.openCostInBytes" -> bound.toString))
    // a sort-merge join: a broadcast would need no shuffle at all
    def joined(s: SparkSession) =
      s.read.parquet(small).as("a")
        .join(s.read.parquet(big).hint("merge").as("b"), col("a.v") === col("b.v"))
        .select(col("a.k"), col("a.v"), col("b.k").as("bk"))
    val got = joined(split)
    assert(wrapped(got) == 1 && coalesced(got) == 0)
    assert(rows(got) == rows(joined(plain)))
    assert(shuffles(got) == 2,
      s"expected both join sides shuffled:\n${got.queryExecution.executedPlan}")
  }

  /** A stateful stream over a `files`-file source: its micro-batch scan
    * is read as one task, its state operator still runs at the session
    * width, and its counts match the batch.
    */
  private def statefulStream(files: Int): Unit = {
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(nParts > 1)
    val src = writeParquet(s"stream$files", 1000, files)
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
      .groupBy(col("k")).count()
      .writeStream.outputMode(OutputMode.Complete)
      .option("checkpointLocation", tempDir(s"ckpt$files"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => counts(r.getLong(0)) = r.getLong(1))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(nodes(plan).exists {
      case _: SingleSplitScanExec => files == 1
      case CoalesceExec(1, scan) =>
        files > 1 && nodes(scan).exists(_.isInstanceOf[FileSourceScanExec])
      case _ => false
    }, s"$files-file micro-batch scan not read as one task:\n$plan")
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == nParts),
      s"state partitions: ${ops.map(_.numShufflePartitions).mkString(",")}")
    val batch = plain.read.parquet(src).groupBy(col("k")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.toMap == batch)
  }

  test("a stateful stream over one file keeps its N state partitions") {
    statefulStream(1)
  }

  test("a stateful stream over a three-file source keeps its N state partitions") {
    statefulStream(3)
  }

  test("bucketed scans and scans with dynamic pruning filters are not wrapped") {
    val table = "graft_onesplit_bkt"
    try {
      spark.range(1000).select((col("id") % 7).as("k"), col("id").as("v"))
        .coalesce(1).write.bucketBy(1, "k").saveAsTable(table)
      val bkt = spark.table(table).groupBy(col("k")).count()
      assert(bkt.queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s }.nonEmpty)
      assert(wrapped(bkt) == 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")

    // one partition, one file: a single split that only the pruning
    // filter keeps unwrapped
    val fact = tempDir("dpp") + "/fact"
    spark.range(1000).select(col("id").as("v"), lit(1L).as("p"))
      .coalesce(1).write.partitionBy("p").parquet(fact)
    val dim = tempDir("dppdim") + "/dim"
    spark.range(20).select((col("id") % 7).cast("int").as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(dim)
    val fScan = spark.read.parquet(fact)
    assert(wrapped(fScan.groupBy(col("p")).count()) == 1)
    val pruned = fScan
      .join(spark.read.parquet(dim).filter(col("v") === 3L), col("p") === col("k"))
    def hasDpp(s: FileSourceScanExec) = s.partitionFilters.exists(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
    val plan = pruned.queryExecution.sparkPlan
    assert(plan.collect { case s: FileSourceScanExec if hasDpp(s) => s }.nonEmpty,
      s"no dynamic pruning filter planned:\n$plan")
    assert(plan.collect {
      case SingleSplitScanExec(s: FileSourceScanExec) if hasDpp(s) => s
    }.isEmpty)
    assert(rows(pruned) == rows(plain.read.parquet(fact)
      .join(plain.read.parquet(dim).filter(col("v") === 3L), col("p") === col("k"))))
  }
}
