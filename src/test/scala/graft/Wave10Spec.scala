package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Lifecycle}
import graft.streaming.StreamingOps

/** Round-12 lifecycle-family specs: the q276 streaming retention twin
  * under the durability contract (3-file split = exact q166 batch
  * answer; a crash-replayed batch must not disturb the idempotent
  * distinct-merge), plus the arithmetic identities that tie the
  * lifecycle reports to one another on the shared (user, day) grain.
  */
class Wave10Spec extends SparkSpec {

  private def tmpDir(tag: String): String =
    SparkSpec.tempDir(tag).toString

  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  private def dropLatestCommit(stateRoot: String): Unit = {
    val commits = new java.io.File(s"$stateRoot/_checkpoint/commits")
    val latest = commits.listFiles()
      .filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete $latest")
    new java.io.File(commits, s".${latest.getName}.crc").delete()
  }

  private def splitEvents(root: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .orderBy(col("event_id"))
    val rows = df.collect()
    val schema = df.schema
    val t0 = System.currentTimeMillis() - 600000L
    val per = (rows.length + 2) / 3
    (0 until 3).foreach { part =>
      val slice = rows.slice(part * per,
        math.min((part + 1) * per, rows.length))
      val tmp = s"$root/_w"
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath)
      target.setLastModified(t0 + part * 2000L)
      rmrf(tmp)
    }
  }

  test("q276: a 3-file split drains to the exact q166 cohort " +
    "triangle, and a crash-replayed batch leaves the distinct-merged " +
    "grain unchanged") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val batch = rows(Analytics.retentionCohorts(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_retsplit_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(StreamingOps.streamingRetention(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch cohorts")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch disturbed the grain")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q277: a 3-file time-ordered split drains to the exact q144 " +
    "funnel (sessions spanning batch boundaries keep their numbering " +
    "and stage anchors), and a crash-replayed batch neither " +
    "double-counts nor trips the arrival guard") {
    import graft.operators.Sessionize
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = rows(Sessionize.sessionFunnel(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_funsplit_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(StreamingOps.streamingFunnel(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch funnel")
      dropLatestCommit(stateRoot)
      assert(run() == batch,
        "crash-replayed batch double-counted or tripped the guard")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q279: a 3-file split drains to the exact q274 RFM cells, and " +
    "a crash-replayed batch is not re-summed into the stats") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    val batch = rows(Lifecycle.rfmSegments(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_rfmsplit_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(StreamingOps.streamingRfm(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch RFM")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q283: a 3-file split drains to the exact q271 size histogram " +
    "(per-session counts sum-merge across batch boundaries), and a " +
    "crash-replayed batch is not re-summed") {
    import graft.operators.Sessionize
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = rows(Sessionize.sessionSizeHistogram(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_szsplit_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(StreamingOps.streamingSessionSizes(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch histogram")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q285: a 3-file split drains to the exact q278 latency " +
    "deciles (stage timestamps survive the cross-batch merge)") {
    import graft.operators.Sessionize
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batch = rows(Sessionize.funnelLatencyDeciles(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_latsplit_")
    try {
      splitEvents(root)
      val r = rows(StreamingOps.streamingFunnelLatency(spark, sfDir,
        sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1),
        stateRoot = Some(s"$root/store")))
      Caches.releaseAll(spark)
      assert(r == batch, "3-way split diverged from the batch deciles")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q284: a 3-file split drains to the exact q280 LTV curve, and " +
    "a crash-replayed batch is not re-summed into the cents") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6))).toSeq
    val batch = rows(Lifecycle.cohortLtv(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_ltvsplit_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(StreamingOps.streamingCohortLtv(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch LTV")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("lifecycle identities: active = new + retained + resurrected " +
    "per day, age-0 retention is 1.0, and cohort sizes sum to the " +
    "distinct-user count") {
    val ga = Lifecycle.growthAccounting(spark, sfDir).collect()
    assert(ga.nonEmpty)
    ga.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
          r.getAs[Long]("n_resurrected"),
        s"day ${r.getAs[Long]("day")}: active split does not add up")
    }
    val rc = Analytics.retentionCohorts(spark, sfDir).collect()
    rc.filter(_.getAs[Long]("day_offset") == 0L).foreach { r =>
      assert(r.getAs[Long]("n_active") == r.getAs[Long]("cohort_size"))
      assert(r.getAs[Double]("retention") == 1.0)
    }
    val nUsers = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id")).distinct().count()
    val cohortSum = rc.filter(_.getAs[Long]("day_offset") == 0L)
      .map(_.getAs[Long]("cohort_size")).sum
    assert(cohortSum == nUsers,
      "cohort sizes at age 0 must partition the distinct users")
    // total new users across growth accounting = distinct users too
    assert(ga.map(_.getAs[Long]("n_new")).sum == nUsers)
  }

  test("q282: the exclusive stage buckets partition q144's session " +
    "count, and f3 matches q144's s3") {
    import graft.operators.Sessionize
    val byStage = Sessionize.funnelValueByStage(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val funnel = Sessionize.sessionFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.values.sum == funnel("s0_sessions"),
      "stage buckets must partition the session set")
    assert(byStage.getOrElse("f3_purchased", 0L) ==
      funnel("s3_view_click_purchase"))
  }

  test("internal-validity suite: silhouettes within [-1, 1], margins " +
    "non-negative, DB ratios positive, AUCs within [0, 1] over the " +
    "full doc count") {
    import graft.operators.{QualityModel, Similarity}
    Similarity.simplifiedSilhouette(spark, sfDir).collect().foreach { r =>
      val m = r.getAs[Double]("mean_silhouette")
      assert(m >= -1.0 && m <= 1.0, s"silhouette $m out of range")
    }
    Similarity.centroidMarginDeciles(spark, sfDir).collect().foreach {
      r => assert(r.getAs[Long]("margin_fp") >= 0L)
    }
    Similarity.daviesBouldin(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Double]("db") > 0.0)
      assert(r.getAs[Long]("worst_label") != r.getAs[Long]("label"))
    }
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val aucs = QualityModel.nbAuc(spark, sfDir).collect()
    assert(aucs.length == 2)
    aucs.foreach { r =>
      val a = r.getAs[Double]("auc")
      assert(a >= 0.0 && a <= 1.0)
      assert(r.getAs[Long]("n_pos") + r.getAs[Long]("n_neg") == nDocs)
    }
  }

  test("q275: every WAU covers its day's DAU and never exceeds the " +
    "trailing-week active-user union bound") {
    val rows = Lifecycle.dauWauStickiness(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      assert(wau >= dau, s"day ${r.getAs[Long]("day")}: WAU < DAU")
      assert(r.getAs[Double]("stickiness") ==
        dau.toDouble / wau.toDouble)
    }
  }
}
