package graft

import org.apache.spark.sql.functions._

import graft.streaming.{SimulatedCrash, StreamState, StreamingOps}

/** Round-11 specs: crash-safe state-lifecycle (r10 verdict #1a / advice
  * #1), size-based compaction width (#3), compaction telemetry (#5),
  * durable stateRoot + checkpoint resume (#1b), and the id-ordered
  * arrival guard (advice #2).
  */
class Wave7Spec extends SparkSpec {

  private def tmpDir(tag: String): String =
    SparkSpec.tempDir(tag).toString

  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** A state table of `rows` distinct rows spread over `files` appends. */
  private def seedState(dir: String, rows: Int, files: Int): Unit = {
    import spark.implicits._
    (0 until files).foreach { f =>
      (0 until rows).filter(_ % files == f)
        .map(i => (i.toLong, s"payload$i"))
        .toDF("doc_id", "h")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  private def stateRows(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  test("maybeCompact survives a kill at every swap step: recovery " +
    "leaves the full state visible to the next batch") {
    for (crashPoint <- Seq("write", "renameOld", "renameTmp")) {
      val root = tmpDir("graft_kill_")
      val dir = s"$root/state"
      try {
        seedState(dir, rows = 40, files = 8)
        val expected = stateRows(dir)
        intercept[SimulatedCrash] {
          StreamState.maybeCompact(spark, dir, maxFiles = 2,
            crashAfter = Some(crashPoint))
        }
        // next batch's first touch runs recovery — the full state must
        // be back, complete, at the canonical path
        StreamState.recover(spark, dir)
        assert(stateRows(dir) == expected,
          s"state lost after crash at $crashPoint")
        // and the interrupted run left no sibling residue
        assert(!new java.io.File(dir + "_compacting").exists(),
          s"stale _compacting after recovery from $crashPoint")
        assert(!new java.io.File(dir + "_old").exists(),
          s"stale _old after recovery from $crashPoint")
        // a subsequent compaction completes normally (force: after a
        // post-write crash the recovered dir may already be compact)
        assert(StreamState.maybeCompact(spark, dir, maxFiles = 2,
          force = true))
        assert(stateRows(dir) == expected)
      } finally rmrf(root)
    }
  }

  test("maybeCompact recovery is exercised by the operator path too: " +
    "recover() before append keeps a fresh append from masquerading " +
    "as the whole state") {
    val root = tmpDir("graft_kill2_")
    val dir = s"$root/state"
    try {
      seedState(dir, rows = 30, files = 6)
      val expected = stateRows(dir)
      // kill mid-swap at the worst point: canonical dir missing
      intercept[SimulatedCrash] {
        StreamState.maybeCompact(spark, dir, maxFiles = 2,
          crashAfter = Some("renameOld"))
      }
      assert(!new java.io.File(dir).exists(), "precondition: dir mid-swap")
      // the operator contract: recover BEFORE appending the next batch
      StreamState.recover(spark, dir)
      import spark.implicits._
      Seq((1000L, "new")).toDF("doc_id", "h")
        .write.mode("append").parquet(dir)
      assert(stateRows(dir) == expected + 1000L)
    } finally rmrf(root)
  }

  test("compaction width is size-based: per-file bytes stay near the " +
    "target instead of a fixed 4-way coalesce") {
    val root = tmpDir("graft_width_")
    val dir = s"$root/state"
    try {
      seedState(dir, rows = 2000, files = 10)
      StreamState.clearTelemetry()
      // ~2000 rows of (long, short string): force a small per-file
      // budget so the sizing math must emit MANY bounded files
      assert(StreamState.maybeCompact(spark, dir, maxFiles = 2,
        targetBytesPerFile = 4096L))
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length > 4,
        s"expected size-based width > 4 files, got ${files.length}")
      // hard cap: no output file dramatically over target (parquet
      // footer overhead makes tiny files compress unpredictably — allow
      // a generous factor, the point is the BOUND scales with target)
      assert(files.forall(_.length < 4096L * 8),
        s"file over size bound: ${files.map(_.length).max}")
      assert(stateRows(dir).size == 2000)
      // telemetry row recorded for the compaction
      val ev = StreamState.telemetry.last
      assert(ev.files_before == 10 && ev.files_after == files.length &&
        ev.rows_before == 2000 && ev.rows_after == 2000)
    } finally rmrf(root)
  }

  test("compaction telemetry: dedup is visible (rows_after < " +
    "rows_before when replays appended duplicates)") {
    val root = tmpDir("graft_tele_")
    val dir = s"$root/state"
    try {
      seedState(dir, rows = 50, files = 5)
      seedState(dir, rows = 50, files = 5) // replayed appends
      StreamState.clearTelemetry()
      assert(StreamState.maybeCompact(spark, dir, maxFiles = 2))
      val ev = StreamState.telemetry.last
      assert(ev.rows_before == 100 && ev.rows_after == 50,
        s"telemetry $ev")
      assert(ev.files_before == 10 && ev.files_after < 10)
      assert(StreamState.telemetryDf(spark).count() >= 1)
    } finally rmrf(root)
  }

  /** One doc row per file, monotone mtimes so the file source drains
    * id-ordered (the reference's keyset-pagination arrival).
    */
  private def writeDocFiles(root: String,
      docs: Seq[(Long, String)], mtimeBase: Long): Unit = {
    import spark.implicits._
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      val tmp = s"$root/_w"
      Seq((id, text, "en", "crafted", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$root/stream/d${id}.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(mtimeBase + i * 2000L)
      rmrf(tmp)
    }
  }

  test("durable stateRoot + checkpoint: a restarted streamingExactDedup " +
    "resumes its registry and suppresses a cross-restart duplicate") {
    val root = tmpDir("graft_durable_")
    val stateRoot = s"$root/shared_store"
    try {
      val t0 = System.currentTimeMillis() - 600000L
      writeDocFiles(root, Seq(
        (1L, "alpha bravo charlie"),
        (2L, "delta echo foxtrot")), t0)
      val first = StreamingOps.streamingExactDedup(spark, root,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1),
          stateRoot = Some(stateRoot))
        .collect().map(_.getLong(0)).toSet
      Caches.releaseAll(spark)
      assert(first == Set(1L, 2L))
      // state + checkpoint survive on the "shared store"
      assert(new java.io.File(s"$stateRoot/registry").exists())
      assert(new java.io.File(s"$stateRoot/_checkpoint").exists())
      // RESTART: new files arrive — doc 3 duplicates doc 1's content.
      // The resumed run must skip already-processed files (checkpoint)
      // and dedup against the persisted registry (durable state).
      writeDocFiles(root, Seq(
        (3L, "alpha bravo charlie"),
        (4L, "golf hotel india")), t0 + 60000L)
      val second = StreamingOps.streamingExactDedup(spark, root,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1),
          stateRoot = Some(stateRoot))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      Caches.releaseAll(spark)
      // keepers: 1, 2, 4 (3 suppressed — its hash is doc 1's); the
      // registry counts doc 1's content twice across the two runs
      assert(second.keySet == Set(1L, 2L, 4L), s"got $second")
      assert(second(1L) == 2L,
        s"cross-restart copy count wrong: $second")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("versioned-ledger resume skips a partial (crashed) version but " +
    "never reuses its number") {
    import spark.implicits._
    val root = tmpDir("graft_vers_")
    try {
      Seq((1L, 2L)).toDF("a", "b")
        .write.parquet(s"$root/b0") // committed (_SUCCESS present)
      // a crash mid-write: version dir exists, no _SUCCESS marker
      val partial = new java.io.File(s"$root/b1")
      partial.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/b1/part-junk.parquet"),
        Array[Byte](1, 2, 3))
      val (mx, resumed, _) = StreamingOps.latestVersion(spark, root)
      assert(mx == 1L, "numbering must count the partial version")
      assert(resumed.contains(s"$root/b0"),
        s"resume must come from the committed version, got $resumed")
    } finally rmrf(root)
  }

  test("q242 drive: mid-run compactions fire on the 4-batch split and " +
    "the forced drain row matches the corpus") {
    StreamState.clearTelemetry()
    val got = StreamingOps.compactionTelemetry(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    Caches.releaseAll(spark)
    assert(got.length == 1 && got(0).getLong(1) == nDocs)
    val tags = StreamState.telemetry.map(_.table)
    assert(tags.contains("exact_dedup/registry"),
      s"no mid-run compaction fired: $tags")
    assert(tags.count(_ == "telemetry_probe/registry") == 1)
  }

  test("q239/q240 golden: planted vocabulary separates and the NB AUC " +
    "beats the length baseline") {
    import spark.implicits._
    import graft.operators.QualityModel
    val root = tmpDir("graft_nb_")
    try {
      // good docs: 24 varied tokens, one stopword, shared marker
      // 'informative'; bad docs: 13×'the' + junk + marker 'spamword'.
      // SAME byte length per class pair, so length cannot separate.
      def pad(s: String, n: Int): String =
        if (s.length >= n) s.take(n) else s + ("x" * (n - s.length))
      val good = (0 until 20).map { i =>
        val uniq = (0 until 22).map(t => s"g${i}w$t").mkString(" ")
        (i.toLong, pad(s"informative the $uniq", 220))
      }
      val bad = (0 until 20).map { i =>
        val uniq = (0 until 11).map(t => s"b${i}j$t").mkString(" ")
        val stop = Seq.fill(13)("the").mkString(" ")
        (100L + i, pad(s"spamword $stop $uniq", 220))
      }
      (good ++ bad)
        .map { case (id, text) => (id, text, "en", "crafted",
          text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$root/documents.parquet")
      // planted separation in the trained weights
      val model = QualityModel.nbTrain(spark, root).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(model("the") < 0L, s"w(the)=${model.get("the")}")
      assert(model("informative") > 0L,
        s"w(informative)=${model.get("informative")}")
      assert(model("spamword") < 0L, s"w(spamword)=${model.get("spamword")}")
      // AUC: P(score of a y=1 doc > score of a y=0 doc), ties = 0.5
      val rows = QualityModel.nbApply(spark, root).collect()
        .map(r => (r.getLong(1), r.getLong(3))) // (y, score_micro)
      val pos = rows.filter(_._1 == 1L).map(_._2)
      val neg = rows.filter(_._1 == 0L).map(_._2)
      assert(pos.nonEmpty && neg.nonEmpty,
        s"label degenerate: ${pos.length} pos / ${neg.length} neg")
      def auc(posS: Seq[Long], negS: Seq[Long]): Double = {
        val wins = (for (p <- posS; n <- negS)
          yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
        wins / (posS.length.toDouble * negS.length.toDouble)
      }
      val aucNb = auc(pos.toSeq, neg.toSeq)
      // length baseline over the same docs (n_chars as the score)
      val lens = spark.read.parquet(s"$root/documents.parquet")
        .select(col("doc_id"), col("n_chars")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rowsY = QualityModel.nbApply(spark, root).collect()
        .map(r => (r.getLong(1), lens(r.getLong(0))))
      val aucLen = auc(rowsY.filter(_._1 == 1L).map(_._2).toSeq,
        rowsY.filter(_._1 == 0L).map(_._2).toSeq)
      Caches.releaseAll(spark)
      assert(aucNb > 0.95, s"NB AUC $aucNb")
      assert(aucNb > aucLen + 0.3,
        s"NB AUC $aucNb does not beat length baseline $aucLen")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q246: a 3-file micro-batch split drains to the exact batch " +
    "model (count SUM-merge associativity)") {
    import graft.operators.QualityModel
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = rows(QualityModel.nbTrain(spark, sfDir))
    Caches.releaseAll(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val schema = graft.sources.Tables.documents(spark, sfDir).schema
    val root = tmpDir("graft_nbsplit_")
    try {
      (0 until 3).foreach { part =>
        val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
        val tmp = s"$root/_w"
        spark.createDataFrame(
            spark.sparkContext.parallelize(slice.toSeq, 1), schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val target = new java.io.File(s"$root/stream/b$part.parquet")
        target.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, target.toPath)
        rmrf(tmp)
      }
      val streamed = rows(StreamingOps.streamingNbTrain(spark, sfDir,
        sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q251: a 3-file micro-batch split drains to the exact batch " +
    "ladder (append-only window facts, order-insensitive rule)") {
    import graft.operators.Dedup
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6))).toSet
    val batch = rows(Dedup.dupSubstringLadder(spark, sfDir))
    Caches.releaseAll(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val schema = graft.sources.Tables.documents(spark, sfDir).schema
    val root = tmpDir("graft_ladsplit_")
    try {
      (0 until 3).foreach { part =>
        val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
        val tmp = s"$root/_w"
        spark.createDataFrame(
            spark.sparkContext.parallelize(slice.toSeq, 1), schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val target = new java.io.File(s"$root/stream/b$part.parquet")
        target.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, target.toPath)
        rmrf(tmp)
      }
      val streamed = rows(StreamingOps.streamingDupLadder(spark, sfDir,
        sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q249 golden: hand-computed U-shaped credits for 0/1/2/3-click " +
    "purchases") {
    import spark.implicits._
    import graft.operators.Analytics
    val root = tmpDir("graft_uattr_")
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(
        f"2024-03-01 10:$min%02d:00")
      // user 1: purchase with NO clicks; user 2: one click; user 3:
      // two clicks; user 4: three clicks (mid share = 20% to one)
      val ev = Seq(
        (1L, ts(30), 100L, "purchase", 10.0),
        (2L, ts(10), 200L, "click", 0.0),
        (2L, ts(30), 201L, "purchase", 10.0),
        (3L, ts(10), 300L, "click", 0.0),
        (3L, ts(20), 301L, "click", 0.0),
        (3L, ts(30), 302L, "purchase", 10.0),
        (4L, ts(5), 400L, "click", 0.0),
        (4L, ts(10), 401L, "click", 0.0),
        (4L, ts(15), 402L, "click", 0.0),
        (4L, ts(30), 403L, "purchase", 10.0))
        .map { case (u, t, e, k, v) => (e, t, u, k, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      ev.write.parquet(s"$root/events.parquet")
      val got = Analytics.positionAttribution(spark, root).collect()
      assert(got.length == 1)
      val r = got(0)
      // cents = 1000 per purchase; 4 purchases, 3 attributed
      assert(r.getLong(1) == 4L && r.getLong(2) == 3L)
      // first: 1000*1e6 (1 click) + 1000*5e5 (2) + 1000*4e5 (3)
      assert(r.getLong(3) == 1000000000L + 500000000L + 400000000L,
        s"first ${r.getLong(3)}")
      assert(r.getLong(4) == 500000000L + 400000000L, s"last ${r.getLong(4)}")
      // mid: one middle click shares the full 20% = 1000*2e5
      assert(r.getLong(5) == 200000000L, s"mid ${r.getLong(5)}")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q241 capped regime actually fires: hot buckets exist at cap 2 " +
    "and the capped pair set is a strict subset of q95's") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val banded = Dedup.md5BandedSignatures(
      Dedup.md5ShingledDocs(Tables.documents(spark, sfDir)))
    assert(Dedup.hotBuckets(banded, 2).count() > 0,
      "cap 2 never fires at the fixture — q241 would not test the " +
        "quarantined regime")
    val capped = Dedup.minhashCappedOracled(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashOracledDf(Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll(spark)
    assert(capped.subsetOf(full), "capped pairs must be a q95 subset")
    assert(capped.size < full.size,
      s"quarantine dropped nothing (${capped.size} vs ${full.size})")
  }

  test("durable stateRoot + checkpoint on the versioned-ledger family: " +
    "a restarted streamingEwmaAnomaly folds only NEW files into the " +
    "resumed ledger (no double count)") {
    import spark.implicits._
    val root = tmpDir("graft_ledger_")
    val stateRoot = s"$root/shared_store"
    def writeEvents(rows: Seq[(Long, String, String)], dest: String,
        mtime: Long): Unit = {
      val tmp = s"$root/_w"
      rows.map { case (id, day, tpe) =>
        (id, java.sql.Timestamp.valueOf(s"$day 12:00:00"), id % 7,
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
    try {
      val t0 = System.currentTimeMillis() - 600000L
      val a = Seq((1L, "2024-03-01", "view"), (2L, "2024-03-01", "view"),
        (3L, "2024-03-02", "view"))
      // the ts-vintage footer probe reads $dir/events.parquet
      writeEvents(a, s"$root/events.parquet/p.parquet", t0)
      writeEvents(a, s"$root/stream/e0.parquet", t0)
      StreamingOps.streamingEwmaAnomaly(spark, root,
        sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1),
        stateRoot = Some(stateRoot)).collect()
      Caches.releaseAll(spark)
      def ledger: Map[(String, String), Long] = {
        val (_, latest, _) = StreamingOps.latestVersion(spark,
          s"$stateRoot/ledger")
        spark.read.parquet(latest.get).collect()
          .map(r => (r.getAs[String]("event_type"),
            r.getAs[java.sql.Date]("day").toString) ->
            r.getAs[Long]("n")).toMap
      }
      assert(ledger == Map(("view", "2024-03-01") -> 2L,
        ("view", "2024-03-02") -> 1L))
      // RESTART with new arrivals: one more view on 03-01, errors on
      // 03-03 — the resumed run must skip e0 (checkpoint) and
      // sum-merge only the new file into the persisted ledger
      writeEvents(Seq((4L, "2024-03-01", "view"),
        (5L, "2024-03-03", "error")),
        s"$root/stream/e1.parquet", t0 + 60000L)
      StreamingOps.streamingEwmaAnomaly(spark, root,
        sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1),
        stateRoot = Some(stateRoot)).collect()
      Caches.releaseAll(spark)
      assert(ledger == Map(("view", "2024-03-01") -> 3L,
        ("view", "2024-03-02") -> 1L, ("error", "2024-03-03") -> 1L),
        s"resumed ledger wrong: $ledger")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("out-of-order arrival trips the contract guard instead of " +
    "silently mis-keeping (q235 exact dedup)") {
    val root = tmpDir("graft_ooo_")
    try {
      val t0 = System.currentTimeMillis() - 600000L
      import spark.implicits._
      // file with HIGH ids arrives first (earlier mtime), low ids after
      def writeOne(id: Long, mtime: Long): Unit = {
        val tmp = s"$root/_w"
        Seq((id, s"text $id", "en", "crafted", 7L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(s"$root/stream/f${id}.parquet")
        dest.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
        rmrf(tmp)
      }
      writeOne(50L, t0)
      writeOne(7L, t0 + 5000L) // arrives second, id below the seen max
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingOps.streamingExactDedup(spark, root,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)).collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(ex).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("out-of-order arrival")),
        s"wrong failure: $ex")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }
}
