package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftFunctions, SingleSplitScanExec}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The one-split scan strategy removes exchanges only where the scan
  * really is one partition, and never changes an answer. Runs on child
  * sessions (the strategy must not leak into the shared session's
  * plans); `plain` is the same session without it.
  */
class SingleSplitScanSpec extends SparkSpec {

  private lazy val single: SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }
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

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_onesplit_$tag").toString

  /** `n` rows of (k, v) as a parquet directory of exactly `files` files. */
  private def writeParquet(tag: String, n: Int, files: Int): String = {
    val path = tempDir(tag) + "/t"
    spark.range(n).select((col("id") % 7).as("k"), col("id").as("v"))
      .repartition(files).write.parquet(path)
    assert(new java.io.File(path).list().count(_.endsWith(".parquet")) == files)
    path
  }

  test("crm_etl: q01/q02/q44 plan without shuffles; every query's rows unchanged") {
    Seq("q01", "q02", "q44").foreach { q =>
      val df = query(q)(single, sfDir)
      df.collect()
      assert(wrapped(df) > 0, s"$q: no scan wrapped")
      assert(shuffles(df) == 0,
        s"$q still shuffles:\n${df.queryExecution.executedPlan}")
      Caches.releaseAll(single)
    }
    Seq("q01", "q02", "q03", "q04", "q40", "q41", "q42", "q43", "q44", "q65")
      .foreach { q =>
        val expected = rows(query(q)(plain, sfDir))
        Caches.releaseAll(plain)
        val got = rows(query(q)(single, sfDir))
        Caches.releaseAll(single)
        assert(got == expected, s"$q: rows differ with the strategy")
      }
  }

  test("a two-file input keeps its exchanges; one file drops them") {
    def grouped(s: SparkSession, path: String) =
      s.read.parquet(path).groupBy(col("k")).agg(sum(col("v")).as("s"))
    val one = grouped(single, writeParquet("one", 1000, 1))
    val two = grouped(single, writeParquet("two", 1000, 2))
    assert(rows(one) == rows(two))
    assert(wrapped(one) == 1 && shuffles(one) == 0)
    assert(wrapped(two) == 0 && shuffles(two) > 0,
      s"two-split scan lost its exchange:\n${two.queryExecution.executedPlan}")
  }

  test("a join against a multi-split side shuffles and matches the plain join") {
    val small = writeParquet("jsmall", 500, 1)
    val big = writeParquet("jbig", 2000, 3)
    // a sort-merge join: a broadcast would need no shuffle at all
    def joined(s: SparkSession) =
      s.read.parquet(small).as("a")
        .join(s.read.parquet(big).hint("merge").as("b"), col("a.v") === col("b.v"))
        .select(col("a.k"), col("a.v"), col("b.k").as("bk"))
    val got = joined(single)
    assert(wrapped(got) == 1)
    assert(rows(got) == rows(joined(plain)))
    assert(shuffles(got) == 2,
      s"expected both join sides shuffled:\n${got.queryExecution.executedPlan}")
  }

  test("a stateful stream over one file keeps its N state partitions") {
    val src = writeParquet("stream", 1000, 1)
    val nParts = single.conf.get("spark.sql.shuffle.partitions").toInt
    assert(nParts > 1)
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    val q = single.readStream.schema(single.read.parquet(src).schema)
      .parquet(src)
      .groupBy(col("k")).count()
      .writeStream.outputMode(OutputMode.Complete)
      .option("checkpointLocation", tempDir("ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => counts(r.getLong(0)) = r.getLong(1))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(nodes(plan).exists(_.isInstanceOf[SingleSplitScanExec]),
      s"micro-batch scan not wrapped:\n$plan")
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == nParts),
      s"state partitions: ${ops.map(_.numShufflePartitions).mkString(",")}")
    val batch = plain.read.parquet(src).groupBy(col("k")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.toMap == batch)
  }

  test("bucketed scans and scans with dynamic pruning filters are not wrapped") {
    val table = "graft_onesplit_bkt"
    try {
      spark.range(1000).select((col("id") % 7).as("k"), col("id").as("v"))
        .coalesce(1).write.bucketBy(1, "k").saveAsTable(table)
      val bkt = single.table(table).groupBy(col("k")).count()
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
    val fScan = single.read.parquet(fact)
    assert(wrapped(fScan.groupBy(col("p")).count()) == 1)
    val pruned = fScan
      .join(single.read.parquet(dim).filter(col("v") === 3L), col("p") === col("k"))
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
