package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Round-12 specs: the crash-REPLAY window (r11 advice #1/#2/#3). A
  * crash can land after a state/version commit but before the
  * streaming checkpoint commits that micro-batch; the restarted query
  * then REPLAYS the batch against state that already contains it. The
  * simulation is exact: delete the latest `commits/<n>` file from the
  * durable checkpoint (offsets survive, so the engine re-executes that
  * batch from its planned offsets) and re-run. Non-idempotent ledger
  * folds must skip the replay (VersionedLedger batch-id gate), the
  * arrival-contract guard must stay exempt across the restart
  * (persisted batch watermark), and the heavy-hitter eviction floor
  * must survive atomically with its version (floor-in-rows).
  */
class Wave8Spec extends SparkSpec {

  private def tmpDir(tag: String): String =
    SparkSpec.tempDir(tag).toString

  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** Delete the newest checkpoint commit marker — the exact crash
    * window between a state commit and the checkpoint's batch commit.
    */
  private def dropLatestCommit(stateRoot: String): Long = {
    val commits = new java.io.File(s"$stateRoot/_checkpoint/commits")
    val latest = commits.listFiles()
      .filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete $latest")
    // the local checksum FS keeps a .<n>.crc sidecar; a leftover would
    // fail the re-commit's rename on replay
    new java.io.File(commits, s".${latest.getName}.crc").delete()
    latest.getName.toLong
  }

  private def writeEvents(root: String,
      rows: Seq[(Long, Long, String, String)], dest: String,
      mtime: Long): Unit = {
    import spark.implicits._
    val tmp = s"$root/_w"
    rows.map { case (id, user, day, tpe) =>
      (id, java.sql.Timestamp.valueOf(s"$day 12:00:00"), user,
        tpe, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val d = new java.io.File(dest)
    d.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, d.toPath)
    d.setLastModified(mtime)
    rmrf(tmp)
  }

  private def writeDoc(root: String, id: Long, text: String,
      mtime: Long, name: String = ""): Unit = {
    import spark.implicits._
    val tmp = s"$root/_w"
    Seq((id, text, "en", "crafted", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val fn = if (name.nonEmpty) name else s"d$id.parquet"
    val dest = new java.io.File(s"$root/stream/$fn")
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dest.setLastModified(mtime)
    rmrf(tmp)
  }

  test("versioned-ledger crash replay: a batch whose version committed " +
    "but whose checkpoint commit was lost is NOT folded twice " +
    "(streamingEwmaAnomaly)") {
    val root = tmpDir("graft_replay_")
    val stateRoot = s"$root/store"
    try {
      val t0 = System.currentTimeMillis() - 600000L
      val a = Seq((1L, 1L, "2024-03-01", "view"),
        (2L, 2L, "2024-03-01", "view"))
      val b = Seq((3L, 1L, "2024-03-01", "view"),
        (4L, 3L, "2024-03-02", "error"))
      // the ts-vintage footer probe reads $dir/events.parquet
      writeEvents(root, a, s"$root/events.parquet/p.parquet", t0)
      writeEvents(root, a, s"$root/stream/e0.parquet", t0)
      writeEvents(root, b, s"$root/stream/e1.parquet", t0 + 30000L)
      def run(): Unit = {
        StreamingOps.streamingEwmaAnomaly(spark, root,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1),
          stateRoot = Some(stateRoot)).collect()
        Caches.releaseAll(spark)
      }
      def ledger: Map[(String, String), Long] = {
        val (_, latest, _) = StreamingOps.latestVersion(spark,
          s"$stateRoot/ledger")
        spark.read.parquet(latest.get).collect()
          .map(r => (r.getAs[String]("event_type"),
            r.getAs[java.sql.Date]("day").toString) ->
            r.getAs[Long]("n")).toMap
      }
      run()
      val expected = Map(("view", "2024-03-01") -> 3L,
        ("error", "2024-03-02") -> 1L)
      assert(ledger == expected, s"first run wrong: $ledger")
      // crash window: version for the last batch is committed, the
      // checkpoint commit for it is gone → restart replays the batch
      dropLatestCommit(stateRoot)
      run()
      assert(ledger == expected,
        s"replayed batch was folded twice: $ledger")
      // and a genuinely NEW file after the replayed restart still folds
      writeEvents(root, Seq((5L, 2L, "2024-03-02", "view")),
        s"$root/stream/e2.parquet", t0 + 60000L)
      run()
      assert(ledger == expected + (("view", "2024-03-02") -> 1L),
        s"post-replay fold wrong: $ledger")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("arrival-guard crash replay: a restarted streamingExactDedup " +
    "recognizes the replayed batch via the persisted watermark instead " +
    "of wedging on its own out-of-order check") {
    val root = tmpDir("graft_guard_")
    val stateRoot = s"$root/store"
    try {
      val t0 = System.currentTimeMillis() - 600000L
      writeDoc(root, 1L, "alpha bravo charlie", t0)
      writeDoc(root, 2L, "delta echo foxtrot", t0 + 5000L)
      def run() = {
        val r = StreamingOps.streamingExactDedup(spark, root,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1),
          stateRoot = Some(stateRoot))
          .collect().map(_.getLong(0)).toSet
        Caches.releaseAll(spark)
        r
      }
      assert(run() == Set(1L, 2L))
      // crash window: doc 2's registry append landed (its doc_ids are
      // in the seeded state) but its checkpoint commit is gone — the
      // replayed batch re-carries doc_id 2 <= state max 2, which the
      // guard must treat as a replay, not an arrival violation
      dropLatestCommit(stateRoot)
      assert(run() == Set(1L, 2L), "replayed drain diverged")
      // forward progress still guarded after the replay exemption:
      // a NEW file carrying an id below the state max must still trip
      writeDoc(root, 1L, "out of order", t0 + 90000L,
        name = "late.parquet")
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run()
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(ex).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("out-of-order arrival")),
        s"forward guard lost after replay exemption: $ex")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q261: a 3-file time-ordered split drains to the exact q257 " +
    "rollup, and a crash-replayed batch neither double-counts nor " +
    "trips the arrival guard") {
    import graft.operators.Analytics
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batch = rows(Analytics.eventDebounce(spark, sfDir))
    Caches.releaseAll(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
      .orderBy(col("event_id")).collect()
    val schema = graft.sources.Tables.events(spark, sfDir).schema
    val root = tmpDir("graft_debsplit_")
    val stateRoot = s"$root/store"
    try {
      val t0 = System.currentTimeMillis() - 600000L
      val per = (ev.length + 2) / 3
      (0 until 3).foreach { part =>
        // contiguous time-ordered slices: the arrival contract the
        // reference's keyset pagination guarantees
        val slice = ev.slice(part * per, math.min((part + 1) * per,
          ev.length))
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
      // the ts-vintage footer probe reads $dir/events.parquet
      def run() = {
        val r = rows(StreamingOps.streamingDebounce(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot)))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, "3-way split diverged from the batch rollup")
      // crash window: counts version committed, checkpoint commit lost
      dropLatestCommit(stateRoot)
      assert(run() == batch,
        "crash-replayed batch double-counted or tripped the guard")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("heavy-hitter eviction floor commits atomically with its " +
    "version and survives crash replay (floor-in-rows)") {
    val root = tmpDir("graft_floor_")
    val stateRoot = s"$root/store"
    try {
      val t0 = System.currentTimeMillis() - 600000L
      // batch 0: users 1×3, 2×2, 3×1 at capacity 2 → user 3 evicted,
      // floor becomes 1
      val b0 = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
        (6L, 3L)).map { case (e, u) => (e, u, "2024-03-01", "view") }
      // batch 1: user 4 enters at 1 + floor(1) = 2 with err 1; ties
      // user 2 at cnt 2, loses the user_id tie-break and is evicted →
      // floor becomes 2
      val b1 = Seq((7L, 4L)).map { case (e, u) =>
        (e, u, "2024-03-01", "view") }
      writeEvents(root, b0, s"$root/events.parquet/p.parquet", t0)
      writeEvents(root, b0, s"$root/stream/e0.parquet", t0)
      writeEvents(root, b1, s"$root/stream/e1.parquet", t0 + 30000L)
      def run() = {
        val r = StreamingOps.streamingHeavyHitters(spark, root,
          capacity = 2, k = 2,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1), stateRoot = Some(stateRoot))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        Caches.releaseAll(spark)
        r
      }
      val first = run()
      assert(first == Seq((1L, 1L, 3L, 0L), (2L, 2L, 2L, 0L)),
        s"first drain wrong: $first")
      // the floor rides in the committed version's own rows — no
      // sidecar to lose
      val (_, latest, _) = StreamingOps.latestVersion(spark,
        s"$stateRoot/summary")
      val floors = spark.read.parquet(latest.get)
        .select(col("floor")).distinct().collect().map(_.getLong(0))
      assert(floors.toSeq == Seq(2L), s"floor not in rows: ${floors.toSeq}")
      // crash replay: summary version committed, checkpoint commit lost
      dropLatestCommit(stateRoot)
      assert(run() == first, "replayed batch double-counted")
      // a NEW batch after the replay resumes with the persisted floor:
      // user 5 enters at 1 + floor(2) = 3 with err 2 and ties user 1
      writeEvents(root,
        Seq((8L, 5L)).map { case (e, u) => (e, u, "2024-03-01", "view") },
        s"$root/stream/e2.parquet", t0 + 60000L)
      val third = run()
      assert(third == Seq((1L, 1L, 3L, 0L), (2L, 5L, 3L, 2L)),
        s"resumed floor wrong: $third")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }
}
