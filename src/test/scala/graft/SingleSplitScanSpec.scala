package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, FileSourceScanExec, InputAdapter, LocalTableScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ChildSessions, SingleSplitScanExec, SinglePartitionExpandExec}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.lake.{GraftLake, LakeTableProvider}
import graft.streaming.StreamingOps

/** The small-scan strategy removes exchanges only where the input
  * really is one task — a one-split scan, a small listing of several
  * splits under `CoalesceExec(1)`, a lake micro-batch packed into one
  * split, a driver-sorted local relation, an Expand over any of these —
  * and never changes an answer. Runs on the shared (shipped) session; `plain` is a child
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

  /** A lake table of (o_orderkey, o_custkey): one append of 3000 rows
    * in 3 files.
    */
  private def lakeTable(tag: String): String = {
    val root = tempDir(tag) + "/t"
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftLake.createTable(fs, root, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType))),
      Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
    spark.range(3000)
      .select(col("id").as("o_orderkey"), (col("id") % 97).as("o_custkey"))
      .repartition(3, col("o_orderkey"))
      .write.format(classOf[LakeTableProvider].getName)
      .option("path", root).option("batchId", "b0").mode("append").save()
    assert(GraftLake.readMeta(root).files.length == 3)
    root
  }

  /** One drained lake micro-batch, as the drain body saw it. */
  private case class LakeBatch(partitions: Int, onePartition: Boolean,
      bodyShuffles: Int, width: String, row: Row)

  /** Drain `session`'s lake stream over `root` through
    * `StreamingOps.drain` (with `confs`), aggregating each batch as the
    * q558/q559 drain bodies do.
    */
  private def lakeDrain(session: SparkSession, root: String,
      confs: Map[String, String] = Map.empty): Seq[LakeBatch] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[LakeBatch]
    val stream = session.readStream.format(classOf[LakeTableProvider].getName)
      .option("path", root).load()
    StreamingOps.drain(stream, Some(tempDir("lakecp")), confs = confs) { (b, _) =>
      val body = b.agg(count(lit(1)), sum(col("o_orderkey")))
      val row = body.collect()(0)
      out += LakeBatch(b.rdd.getNumPartitions,
        preparedPlan(b).outputPartitioning == SinglePartition, shuffles(body),
        b.sparkSession.conf.get("spark.sql.shuffle.partitions"), row)
    }
    out.toSeq
  }

  test("a lake drain whose batch fits the bound aggregates without an exchange") {
    val root = lakeTable("lakefit")
    val Seq(got) = lakeDrain(spark, root)
    assert(got.partitions == 1 && got.onePartition && got.bodyShuffles == 0, got)
    // the source packs the batch on any session; only the strategy
    // reports it as one partition
    val Seq(ref) = lakeDrain(plain, root)
    assert(ref.partitions == 1 && !ref.onePartition && ref.bodyShuffles > 0, ref)
    assert(got.row == ref.row && got.row == Row(3000L, (0L until 3000L).sum))
  }

  test("a lake drain above the bound keeps per-file splits and its exchange") {
    val root = lakeTable("lakeover")
    val files = GraftLake.readMeta(root).files
      .map(f => new java.io.File(s"$root/${f.path}").length).sum
    assert(files > 1024)
    val Seq(got) = lakeDrain(narrow, root)
    assert(got.partitions == 3 && !got.onePartition && got.bodyShuffles > 0, got)
    assert(got.row == lakeDrain(plain, root).head.row)
  }

  test("a lake drain on a child session (drain confs) still reads as one task") {
    val root = lakeTable("lakechild")
    val Seq(got) = lakeDrain(spark, root, Map("spark.sql.shuffle.partitions" -> "3"))
    assert(got.width == "3", "the drain body did not run on the child")
    assert(got.partitions == 1 && got.onePartition && got.bodyShuffles == 0, got)
    assert(got.row == Row(3000L, (0L until 3000L).sum))
  }

  test("concurrent q559 calls on one session both return the plain session's rows") {
    val golden = query("q559")(plain, sfDir).collect().toSeq
    Caches.releaseAll(plain)
    assert(golden.length == 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[Row]] {
          def call() = query("q559")(spark, sfDir).collect().toSeq
        }))
      futures.foreach(f => assert(f.get() == golden))
    } finally pool.shutdown()
    Caches.releaseAll(spark)
  }

  test("a sorted local relation is one driver-sorted scan with Spark's key order") {
    // 40 rows over 4 local partitions: keys tie across partitions
    val data = (0 until 40).map(i => (if (i % 7 == 0) None else Some(i % 3), i))
    def local(s: SparkSession) = s.createDataFrame(data).toDF("k", "v")
    /** Spark's sort and the driver sort agree on the key sequence and
      * the rows; Spark leaves ties in no fixed order (not even over one
      * input partition), the driver sort in input order.
      */
    def sameSort(keys: Seq[org.apache.spark.sql.Column],
        order: Seq[org.apache.spark.sql.Column],
        inputOrder: Seq[(Option[Int], Int)]): Unit = {
      val got = local(spark).orderBy(order: _*)
      val plan = preparedPlan(got)
      assert(plan.isInstanceOf[LocalTableScanExec], s"not one local scan:\n$plan")
      val ref = local(plain).orderBy(order: _*)
      assert(ref.queryExecution.executedPlan.toString.contains("rangepartitioning"))
      def keyed(df: DataFrame) = df.select(keys: _*).collect().toSeq
      assert(keyed(got) == keyed(ref))
      assert(rows(got) == rows(ref))
      assert(got.collect().toSeq.map(_.getInt(1)) == inputOrder.map(_._2))
    }
    sameSort(Seq(col("k")), Seq(col("k").desc_nulls_last),
      data.sortBy(_._1.fold(1)(k => -k)))
    sameSort(Seq(col("v") % 4, col("k")), Seq((col("v") % 4).asc, col("k")),
      data.sortBy(r => (r._2 % 4, r._1.getOrElse(Int.MinValue))))
    // a key the driver cannot evaluate (a scalar subquery) keeps
    // Spark's sort
    local(spark).createOrReplaceTempView("graft_onesplit_local")
    val sub = spark.sql("SELECT * FROM graft_onesplit_local " +
      "ORDER BY v + (SELECT max(id) FROM range(3))")
    assert(nodes(preparedPlan(sub)).exists(_.isInstanceOf[SortExec]),
      s"subquery key sorted on the driver:\n${preparedPlan(sub)}")
    assert(sub.collect().toSeq.map(_.getInt(1)) == (0 until 40))
    spark.catalog.dropTempView("graft_onesplit_local")
  }

  /** Two distinct aggregates over different columns: planned with an
    * Expand under the partial aggregate.
    */
  private def distinctCounts(s: SparkSession, path: String) =
    s.read.parquet(path).groupBy(col("k"))
      .agg(countDistinct(col("v")).as("dv"),
        countDistinct(col("v") % 3).as("dv3"), sum(col("v")).as("s"))
      .orderBy(col("k"))

  /** The operators of one whole-stage-codegen stage. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(stage)
  })

  /** Whether some codegen stage holds an aggregate directly over the
    * Expand marker, with the Expand itself in that stage.
    */
  private def expandFused(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists {
      case w: WholeStageCodegenExec => stage(w.child).exists {
        case h: HashAggregateExec => h.child match {
          case SinglePartitionExpandExec(_: ExpandExec) => true
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }

  test("an Expand over a one-split scan runs without exchanges, fused with its aggregate") {
    val onePath = writeParquet("expand1", 1000, 1)
    val got = distinctCounts(spark, onePath)
    val expected = distinctCounts(plain, onePath).collect().toSeq
    assert(got.collect().toSeq == expected)
    assert(shuffles(got) == 0, s"Expand kept an exchange:\n${got.queryExecution.executedPlan}")
    assert(expandFused(got), s"Expand not fused:\n${got.queryExecution.executedPlan}")
  }

  test("an Expand over a multi-split scan keeps its exchanges") {
    val threePath = writeParquet("expand3", 1000, 3)
    val got = distinctCounts(narrow, threePath)
    val ref = distinctCounts(plain, threePath)
    assert(got.collect().toSeq == ref.collect().toSeq)
    assert(shuffles(got) > 0 && shuffles(got) == shuffles(ref),
      s"exchanges differ from the plain plan:\n${got.queryExecution.executedPlan}")
    assert(expandFused(got), s"Expand not fused:\n${got.queryExecution.executedPlan}")
  }
}
