package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Round-12 specs: the three new streaming maintenance twins (q262
  * gap histogram, q263 deciles, q267 label centroids) under the full
  * durability contract — a multi-file split must drain to the exact
  * batch answer, and a crash in the window between a ledger version
  * commit and the checkpoint's batch commit (simulated by deleting
  * the newest `commits/<n>` marker, so the restarted query replays
  * that batch) must neither double-fold nor wedge.
  */
class Wave9Spec extends SparkSpec {

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

  /** Write `table` from sfDir as 3 contiguous single-file slices under
    * `root/stream`, ordered by `idCol` (the arrival contract), with
    * strictly increasing mtimes so AvailableNow with
    * maxFilesPerTrigger=1 drains them as 3 micro-batches.
    */
  private def splitTable(root: String, table: String, idCol: String)
      : Unit = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
      .orderBy(col(idCol))
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

  test("q262: a 3-file time-ordered split drains to the exact q260 " +
    "histogram, and a crash-replayed batch neither double-counts nor " +
    "trips the arrival guard") {
    import graft.operators.Analytics
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val batch = rows(Analytics.eventGapHistogram(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_gapsplit_")
    val stateRoot = s"$root/store"
    try {
      splitTable(root, "events", "event_id")
      def run() = {
        val r = rows(StreamingOps.streamingGapHistogram(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch histogram")
      // crash window: histogram version committed, checkpoint commit
      // lost — the replay must be skipped by the ledger gate and stay
      // exempt from the arrival guard via the persisted watermark
      dropLatestCommit(stateRoot)
      assert(run() == batch,
        "crash-replayed batch double-counted or tripped the guard")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q263: a 3-file split drains to the exact q200 decile table, " +
    "and a crash-replayed batch is not re-summed into the histogram") {
    import graft.operators.TextOps
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batch = rows(TextOps.sourceDeciles(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_decsplit_")
    val stateRoot = s"$root/store"
    try {
      splitTable(root, "documents", "doc_id")
      def run() = {
        val r = rows(StreamingOps.streamingDeciles(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch deciles")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q269: a 3-file time-ordered split drains to the exact q198 " +
    "matrix, and a crash-replayed batch neither double-counts nor " +
    "trips the arrival guard") {
    import graft.operators.Sessionize
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val batch = rows(Sessionize.eventTransitions(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_transplit_")
    val stateRoot = s"$root/store"
    try {
      splitTable(root, "events", "event_id")
      def run() = {
        val r = rows(StreamingOps.streamingTransitions(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch matrix")
      dropLatestCommit(stateRoot)
      assert(run() == batch,
        "crash-replayed batch double-counted or tripped the guard")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q270: a 3-file split drains to the exact q158 KL table, and " +
    "a crash-replayed batch is not re-summed into the counts") {
    import graft.operators.TextOps
    // kl is an FP sum whose fold order may differ between the batch
    // plan and the drained-state plan — compare at the oracle gate's
    // 9-decimal precision (counts/totals stay exact longs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9) / 1e9)).toSeq
    val batch = rows(TextOps.sourceKlDrift(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_klsplit_")
    val stateRoot = s"$root/store"
    try {
      splitTable(root, "documents", "doc_id")
      def run() = {
        val r = rows(StreamingOps.streamingKlDrift(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch KL")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q267: a 3-file split drains to the exact q104 centroid " +
    "report, and a crash-replayed batch is not re-summed") {
    import graft.operators.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6))).toSeq
    val batch = rows(Similarity.labelCentroids(spark, sfDir))
    Caches.releaseAll(spark)
    val root = tmpDir("graft_centsplit_")
    val stateRoot = s"$root/store"
    try {
      splitTable(root, "embeddings", "vec_id")
      def run() = {
        val r = rows(StreamingOps.streamingLabelCentroids(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch centroids")
      dropLatestCommit(stateRoot)
      assert(run() == batch, "crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }
}
