package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.lake.{GraftLake, LakeTableProvider}

/** The DSv2 write path's commit contract: appends through
  * `df.write.format(lake)` are atomic (a killed commit leaves NO
  * listable snapshot), idempotent under batch-id replay, schema-gated,
  * and the stats the executor writers fold inline (zones + bloom)
  * agree with what the planner then prunes on.
  */
class LakeWriteSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType)))

  private def freshRoot(): String = {
    val dir = Caches.trackTempDir(SparkSpec.tempDir("graft_lake_write_"))
      .toString + "/t"
    val fs = new HPath(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftLake.createTable(fs, dir, schema,
      Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
    dir
  }

  private def append(root: String, lo: Long, hi: Long,
      batchId: String): Unit = {
    import spark.implicits._
    (lo until hi).map(k => (k, k % 97)).toDF("o_orderkey", "o_custkey")
      .repartition(3, col("o_orderkey"))
      .write.format(classOf[LakeTableProvider].getName)
      .option("path", root).option("batchId", batchId)
      .mode("append").save()
  }

  private def scan(root: String, v: Option[String] = None) = {
    val rd = spark.read.format(classOf[LakeTableProvider].getName)
      .option("path", root)
    v.fold(rd)(rd.option("versionAsOf", _)).load()
  }

  test("append commits snapshots; batch-id replay is a no-op; " +
      "content round-trips") {
    val root = freshRoot()
    append(root, 0L, 500L, "b1")
    append(root, 500L, 900L, "b2")
    append(root, 500L, 900L, "b2") // committed retry: must no-op
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftLake.committedVersions(fs, root) == Seq(0L, 1L, 2L))
    assert(scan(root).count() == 900L)
    assert(scan(root, Some("1")).count() == 500L)
    assert(scan(root, Some("0")).count() == 0L)
    val got = scan(root).agg(sum(col("o_orderkey"))).collect()(0)
      .getLong(0)
    assert(got == (0L until 900L).sum)
  }

  test("a killed mid-write commit leaves NO listable snapshot, and " +
      "the retry commits exactly once") {
    val root = freshRoot()
    append(root, 0L, 300L, "b1")
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the two crash windows a real commit has:
    // (1) after data staging, before the commit claim — uuid data
    //     files exist but no manifest names them
    fs.create(new HPath(s"$root/data_udeadbeef/part-0-0.parquet"),
      true).close()
    // (2) after the commit dir was staged, before the claim rename
    val out = fs.create(
      new HPath(s"$root/_staging_c_dead/manifest.tsv"), true)
    out.write("#schema\to_orderkey:long\t\t-\n".getBytes("UTF-8"))
    out.close()
    // neither window is listable as a snapshot…
    assert(GraftLake.committedVersions(fs, root) == Seq(0L, 1L))
    assert(scan(root).count() == 300L)
    // …and the batch retried after the crash commits exactly once
    append(root, 300L, 400L, "b2")
    append(root, 300L, 400L, "b2")
    assert(GraftLake.committedVersions(fs, root) == Seq(0L, 1L, 2L))
    assert(scan(root).count() == 400L)
    // the orphaned staging data never leaks into any snapshot
    assert(scan(root).collect().map(_.getLong(0)).toSet ==
      (0L until 400L).toSet)
  }

  test("schema mismatch and missing batchId are rejected") {
    import spark.implicits._
    val root = freshRoot()
    val bad = intercept[Exception] {
      Seq((1L, "x")).toDF("o_orderkey", "o_name")
        .write.format(classOf[LakeTableProvider].getName)
        .option("path", root).option("batchId", "b")
        .mode("append").save()
    }
    assert(bad.getMessage != null)
    val noId = intercept[Exception] {
      Seq((1L, 2L)).toDF("o_orderkey", "o_custkey")
        .write.format(classOf[LakeTableProvider].getName)
        .option("path", root).mode("append").save()
    }
    assert(noId.getMessage.contains("batchId") ||
      noId.getCause != null)
  }

  test("the 8-writer race: disjoint appends + a late duplicate + a " +
      "racing fold converge to the exact-once end state, 3 rounds") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.lake.LakeMaintain
    (1 to 3).foreach { round =>
      val root = freshRoot()
      val pool = Executors.newFixedThreadPool(8)
      try {
        val tasks: Seq[Callable[Unit]] =
          (0 to 5).map[Callable[Unit]] { w =>
            () => {
              import spark.implicits._
              (0L until 600L).filter(_ % 6 == w).map(k => (k, k % 7))
                .toDF("o_orderkey", "o_custkey")
                .repartition(2, col("o_orderkey"))
                .write.format(
                  classOf[graft.sources.lake.LakeTableProvider].getName)
                .option("path", root).option("batchId", s"b$w")
                .mode("append").save()
            }
          } ++ Seq[Callable[Unit]](
            () => {
              import spark.implicits._
              (0L until 600L).filter(_ % 6 == 0).map(k => (k, k % 7))
                .toDF("o_orderkey", "o_custkey")
                .repartition(2, col("o_orderkey"))
                .write.format(
                  classOf[graft.sources.lake.LakeTableProvider].getName)
                .option("path", root).option("batchId", "b0")
                .mode("append").save()
            },
            () => {
              var done = false
              while (!done)
                done = LakeMaintain.optimize(spark, root, "fold")
            })
        tasks.map(t => pool.submit(t))
          .foreach(_.get(600, TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      val fs = new HPath(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(GraftLake.committedVersions(fs, root).length == 8,
        s"round $round: create + 6 appends + 1 fold, duplicate no-ops")
      val keys = scan(root).collect().map(_.getLong(0)).sorted
      assert(keys.toSeq == (0L until 600L).toSeq,
        s"round $round: every key exactly once")
      Caches.releaseAll(spark)
    }
  }

  test("writer-folded zones and bloom prune the written table " +
      "exactly like build-time stats") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
    val root = freshRoot()
    append(root, 0L, 2000L, "b1")
    val meta = GraftLake.readMeta(root)
    assert(meta.files.nonEmpty)
    // provider plan = manifest-derived overlap, recomputed here
    val (lo, hi) = (250L, 260L)
    val expected = meta.files.count(f =>
      f.zMax(0) >= lo && f.zMin(0) <= hi).toLong
    val planned = GraftLake.plannedFiles(root, Array[Filter](
      GreaterThanOrEqual("o_orderkey", lo),
      LessThanOrEqual("o_orderkey", hi)))
    assert(planned == expected)
    assert(scan(root).filter(col("o_orderkey").between(lo, hi))
      .count() == 11L)
    // bloom: a present key admits >=1 file; an absent one (beyond the
    // range) is rejected by zones+bloom and returns zero rows
    assert(GraftLake.plannedFiles(root,
      Array[Filter](EqualTo("o_orderkey", 1234L))) >= 1L)
    assert(scan(root).filter(col("o_orderkey") === 99999L).count()
      == 0L)
  }

  test("partitioned DSv2 append: the write demands day-clustered " +
      "sorted rows, cuts one file per pval run, and partition " +
      "pruning holds on the written table") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Caches.trackTempDir(SparkSpec.tempDir("graft_lake_pwrite_"))
      .toString + "/t"
    val fs = new HPath(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftLake.createTable(fs, dir, StructType(Seq(
      StructField("day", LongType), StructField("id", LongType))),
      Seq("id"), None, Some("identity(day)"))
    // deliberately UNSORTED, scattered input: the required
    // distribution + ordering must reassemble whole-day files
    val rows = (0L until 1000L).map(k => ((k * 7L) % 5L, k))
    scala.util.Random.shuffle(rows).toDF("day", "id")
      .repartition(7)
      .write.format(classOf[LakeTableProvider].getName)
      .option("path", dir).option("batchId", "p0")
      .mode("append").save()
    val meta = GraftLake.readMeta(dir)
    assert(meta.partSpec.exists(s =>
      s.transform == "identity" && s.col == "day"))
    // one file per day value, each single-pval
    assert(meta.files.length == 5)
    assert(meta.files.flatMap(_.pval).sorted == Seq(0L, 1L, 2L, 3L, 4L))
    assert(meta.files.map(_.nRows).sum == 1000L)
    // partition pruning on the written table
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    assert(GraftLake.plannedFiles(dir,
      Array[Filter](EqualTo("day", 2L))) == 1L)
    val got = scan(dir).filter(col("day") === 2L).count()
    assert(got == rows.count(_._1 == 2L).toLong)
    // replay no-ops
    rows.toDF("day", "id")
      .write.format(classOf[LakeTableProvider].getName)
      .option("path", dir).option("batchId", "p0")
      .mode("append").save()
    assert(GraftLake.readMeta(dir).files.length == 5)
  }

  test("changes-since reads: an append range serves exactly the new " +
      "files, increments compose to the full table, and a rewrite " +
      "range refuses") {
    import spark.implicits._
    val root = freshRoot()
    append(root, 0L, 500L, "b0")   // v1
    append(root, 500L, 800L, "b1") // v2
    def inc(from: Long, to: Option[Long]) =
      GraftLake.dfChangesFrom(spark, root, from, to)
    assert(inc(0L, Some(2L)).count() == 800L)
    assert(inc(1L, Some(2L)).count() == 300L)
    assert(inc(1L, Some(2L)).agg(min(col("o_orderkey")))
      .collect()(0).getLong(0) == 500L)
    // increments compose: (0->1) + (1->2) == full v2
    assert(inc(0L, Some(1L)).count() + inc(1L, Some(2L)).count() ==
      scan(root).count())
    // a MERGE rewrite poisons the range: refuse, don't double-count
    val src = Seq((10L, 999999L)).toDF("o_orderkey", "o_custkey")
    assert(graft.sources.lake.LakeMerge
      .merge(spark, root, src, "o_orderkey", "mx").isDefined)
    val e = intercept[Exception] { inc(1L, None).count() }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("append-only"))))
    // but a post-rewrite increment works again
    append(root, 800L, 900L, "b2")
    assert(inc(3L, None).count() == 100L)
  }

  test("the lake as a streaming source: a drain consumes every " +
      "append exactly once, a checkpointed resume serves only the " +
      "delta, and a mid-stream rewrite fails the query instead of " +
      "double-counting") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = freshRoot()
    append(root, 0L, 400L, "s0")
    append(root, 400L, 600L, "s1")
    val base = Caches.trackTempDir(SparkSpec.tempDir("graft_lake_srcspec_"))
      .toString
    def drain(): Long = {
      var n = 0L
      val q = spark.readStream
        .format(classOf[LakeTableProvider].getName)
        .option("path", root).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/cp")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          n += b.count())
        .start()
      q.awaitTermination()
      n
    }
    assert(drain() == 600L)
    assert(drain() == 0L, "a re-drain with nothing new serves nothing")
    append(root, 600L, 650L, "s2")
    assert(drain() == 50L, "the resume serves exactly the delta")
    // a rewrite between drains: the next increment must refuse
    val src = Seq((5L, 111L)).toDF("o_orderkey", "o_custkey")
    assert(graft.sources.lake.LakeMerge
      .merge(spark, root, src, "o_orderkey", "sm").isDefined)
    append(root, 650L, 660L, "s3")
    val e = intercept[Exception] { drain() }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("append-only"))))
  }

  test("DELETE FROM: range deletes mask exactly the matching rows " +
      "as DVs, overlapping deletes union, time travel keeps the " +
      "pre-delete state, and a replay no-ops") {
    import graft.sources.lake.LakeDelete
    val root = freshRoot()
    append(root, 0L, 1000L, "b0")
    val r1 = LakeDelete.deleteRange(spark, root, "o_orderkey",
      100L, 199L, "d1")
    assert(r1.isDefined)
    assert(r1.get._2 == 100L)
    assert(scan(root).count() == 900L)
    assert(scan(root).filter(col("o_orderkey").between(100L, 199L))
      .count() == 0L)
    // overlap: [150,249] adds only the 50 fresh ordinals
    val r2 = LakeDelete.deleteRange(spark, root, "o_orderkey",
      150L, 249L, "d2")
    assert(r2.get._2 == 50L)
    assert(scan(root).count() == 850L)
    // untouched rows intact, time travel to the pre-delete snapshot
    assert(scan(root).filter(col("o_orderkey") === 99L).count() == 1L)
    assert(scan(root, Some("1")).count() == 1000L)
    assert(scan(root, Some("2")).count() == 900L)
    // replay: recognized, nothing re-masked
    assert(LakeDelete.deleteRange(spark, root, "o_orderkey",
      150L, 249L, "d2").isEmpty)
    assert(scan(root).count() == 850L)
  }

  test("medallion loop: cursor-tracked incremental folding equals " +
      "the full recompute, and a caught-up or crash-replayed cycle " +
      "no-ops") {
    import graft.sources.lake.{LakeMedallion, LakeMerge}
    import spark.implicits._
    val bronze = freshRoot()
    append(bronze, 0L, 400L, "b0")
    append(bronze, 400L, 700L, "b1")
    val silver = Caches.trackTempDir(SparkSpec.tempDir("graft_lake_silver_"))
      .toString + "/t"
    val fs = new HPath(silver)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftLake.createTable(fs, silver, StructType(Seq(
      StructField("o_custkey", LongType),
      StructField("n_orders", LongType),
      StructField("sum_ok", LongType))),
      Seq("o_custkey"), Some("o_custkey"))
    val c1 = LakeMedallion.refresh(spark, bronze, silver)
    assert(c1.exists(r => r._1 == 0L && r._2 == 2L))
    append(bronze, 700L, 900L, "b2")
    val c2 = LakeMedallion.refresh(spark, bronze, silver)
    assert(c2.exists(r => r._1 == 2L && r._2 == 3L))
    // incremental == full recompute at key grain
    val got = scan(silver).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = scan(bronze).groupBy(col("o_custkey"))
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // caught up → no-op; a crash-replayed cycle commit → no-op
    assert(LakeMedallion.refresh(spark, bronze, silver).isEmpty)
    val stale = Seq((0L, 1L, 1L))
      .toDF("o_custkey", "n_orders", "sum_ok")
    assert(LakeMerge.merge(spark, silver, stale, "o_custkey",
      "refresh-2-3").isEmpty,
      "a replayed refresh commit must be recognized on the trail")
  }

  test("vacuum: unreferenced crash debris sweeps at file grain, " +
      "referenced files and young in-flight files survive") {
    import graft.sources.lake.LakeVacuum
    val root = freshRoot()
    append(root, 0L, 600L, "v0")
    val meta = GraftLake.readMeta(root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = meta.files.head.path.split('/').head
    // debris: an orphan beside committed files + a dead staging dir
    def plant(rel: String): Unit = {
      val out = fs.create(new HPath(s"$root/$rel"), true)
      try out.write("junk".getBytes("UTF-8")) finally out.close()
    }
    plant(s"$dataDir/part-speculative.parquet")
    plant("_staging_c_dead/manifest.tsv")
    plant("data_uorphan00/part-0.parquet")
    // a young in-flight writer's file survives an age-floored sweep
    val (s1, d1, k1) = LakeVacuum.sweepOrphans(spark, root,
      minAgeMs = 3600000L)
    assert(s1 == 0L && d1 == 0L,
      "young debris must survive the age floor")
    assert(k1 == meta.files.size.toLong)
    // an immediate sweep retires exactly the debris
    val (s2, d2, k2) = LakeVacuum.sweepOrphans(spark, root)
    assert(s2 == 2L, s"expected 2 orphan files swept, got $s2")
    assert(d2 >= 1L, "the dead staging dir must sweep")
    assert(k2 == meta.files.size.toLong)
    // the table answers in full after the sweep
    assert(scan(root).count() == 600L)
  }

  test("MERGE: copy-on-write rewrites ONLY key-matching files, " +
      "upsert semantics hold at key grain, and a replayed batch " +
      "no-ops") {
    import graft.sources.lake.LakeMerge
    import spark.implicits._
    val root = freshRoot()
    append(root, 0L, 2048L, "b0") // 0..2047, custkey = k % 97
    val m1 = GraftLake.readMeta(root)
    val p1 = m1.files.map(_.path).toSet
    // updates hit a narrow key band; inserts extend past the max
    val src = ((100L to 140L).map(k => (k, k + 500000L)) ++
      (5000L until 5010L).map(k => (k, k))).toDF(
      "o_orderkey", "o_custkey")
    val r = LakeMerge.merge(spark, root, src, "o_orderkey", "m1")
    assert(r.isDefined)
    val (rew, _, v) = r.get
    val m2 = GraftLake.readMeta(root)
    // only files whose key zone meets [100,140] rewrite
    val touchedExpected = m1.files.count(f =>
      f.zMax(0) >= 100L && f.zMin(0) <= 140L).toLong
    assert(rew > 0 && rew <= touchedExpected)
    val kept = m2.files.map(_.path).toSet.intersect(p1)
    assert(kept.size == m1.files.length - rew,
      "untouched files must ride verbatim")
    // upsert semantics at key grain
    val got = scan(root).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toMap
    assert(got.size == 2048 + 10)
    (100L to 140L).foreach(k => assert(got(k) == k + 500000L))
    (5000L until 5010L).foreach(k => assert(got(k) == k))
    assert(got(99L) == 99L % 97)
    assert(got(141L) == 141L % 97)
    // replay: recognized on the trail, no new snapshot
    assert(LakeMerge.merge(spark, root, src, "o_orderkey", "m1")
      .isEmpty)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftLake.committedVersions(fs, root).max == v)
  }
}
