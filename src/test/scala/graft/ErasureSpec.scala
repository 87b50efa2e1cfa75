package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The erasure family's durability contract (r13 verdict #1's "done"
  * bar): erased keys stay erased across a resume, including the
  * crash-replay window, and the erasure itself is idempotent and
  * tombstone-first.
  */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    SparkSpec.tempDir("graft_erasure_spec_").toString

  private def batchDf(ids: Seq[Long]) =
    ids.map(i => (i, s"s${i % 3}", 10L + i)).toDF(
      "doc_id", "source", "n_chars")

  /** One ledger fold, as the probe pipeline does it: tombstone filter,
    * then union-merge with the current version.
    */
  private def fold(ledger: StreamingOps.VersionedLedger,
      ledgerRoot: String, id: Long, ids: Seq[Long]): Unit =
    if (!ledger.isReplayed(id)) {
      val rows = Erasure.applyTombstones(spark, ledgerRoot, batchDf(ids))
      val merged =
        if (ledger.isEmpty) rows
        else spark.read.parquet(ledger.path).unionByName(rows)
      ledger.write(merged, id)
    }

  private def stateIds(ledgerRoot: String): Set[Long] = {
    val (_, _, path) =
      Provenance.committedVersions(spark, ledgerRoot).last
    spark.read.parquet(path).select("doc_id").as[Long].collect().toSet
  }

  test("erase drops keys, retires the old version, keeps the batch id") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 2L, 37L))
    fold(ledger, ledgerRoot, 1L, Seq(74L, 75L))
    Erasure.erase(spark, ledgerRoot, Seq(37L, 74L).toDF("doc_id"))
    assert(stateIds(ledgerRoot) === Set(1L, 2L, 75L))
    val vs = Provenance.committedVersions(spark, ledgerRoot)
    // versions 0,1 intact (retired, not edited); version 2 = rewrite
    // under batch 1 (content change, not stream progress)
    assert(vs.map(v => (v._1, v._2)) === Seq((0L, 0L), (1L, 1L), (2L, 1L)))
    assert(spark.read.parquet(vs(1)._3).count() === 5L)
  }

  test("erased keys stay erased across a resume that replays a batch") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 2L, 37L))
    fold(ledger, ledgerRoot, 1L, Seq(74L, 75L))
    Erasure.erase(spark, ledgerRoot, Seq(37L, 74L).toDF("doc_id"))
    // restart: a new handle resumes from the rewrite (watermark = 1)
    val resumed = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    // crash-replay window: batch 1 replays — the gate must skip it
    // (re-folding would resurrect 74 and double-count 75)
    fold(resumed, ledgerRoot, 1L, Seq(74L, 75L))
    assert(stateIds(ledgerRoot) === Set(1L, 2L, 75L))
    // forward progress: a new batch CONTAINING an erased key (late
    // duplicate arrival) folds, but the tombstone filter drops it
    fold(resumed, ledgerRoot, 2L, Seq(37L, 99L))
    assert(stateIds(ledgerRoot) === Set(1L, 2L, 75L, 99L))
    val st = spark.read.parquet(
      Provenance.committedVersions(spark, ledgerRoot).last._3)
    assert(st.count() === 4L) // no double-counted 75 either
  }

  test("erasure is idempotent and accumulates across requests") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 2L, 37L, 74L))
    Erasure.erase(spark, ledgerRoot, Seq(37L).toDF("doc_id"))
    Erasure.erase(spark, ledgerRoot, Seq(37L).toDF("doc_id")) // retry
    assert(stateIds(ledgerRoot) === Set(1L, 2L, 74L))
    Erasure.erase(spark, ledgerRoot, Seq(74L).toDF("doc_id")) // second
    assert(stateIds(ledgerRoot) === Set(1L, 2L))
    // both requests' tombstones persist
    val tomb = Erasure.readTombstones(spark, ledgerRoot).get
      .select("doc_id").as[Long].collect().toSet
    assert(tomb === Set(37L, 74L))
  }

  test("crash between tombstone write and rewrite re-erases on next fold") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 37L))
    // simulate the crash window: tombstones committed, rewrite never
    // ran (write them exactly as erase() does, then stop)
    Erasure.erase(spark, ledgerRoot, Seq(37L).toDF("doc_id"))
    // delete the rewrite version to model "crashed before it"
    val vs = Provenance.committedVersions(spark, ledgerRoot)
    val fs = new org.apache.hadoop.fs.Path(ledgerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(vs.last._3), true)
    assert(stateIds(ledgerRoot) === Set(1L, 37L)) // stale, pre-rewrite
    // next fold filters ITS input through the surviving tombstones
    // (the late-arriving 37 never lands), and the retried erase —
    // idempotent — purges the stale pre-crash state row
    val resumed = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(resumed, ledgerRoot, 1L, Seq(37L, 50L))
    assert(stateIds(ledgerRoot) === Set(1L, 37L, 50L))
    Erasure.erase(spark, ledgerRoot, Seq(37L).toDF("doc_id"))
    assert(stateIds(ledgerRoot) === Set(1L, 50L))
  }

  test("crash between tombstone delete and staging rename recovers — " +
      "accumulated tombstones are never lost") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 37L, 74L))
    Erasure.erase(spark, ledgerRoot, Seq(37L).toDF("doc_id"))
    // simulate the swap crash window of a SECOND request: committed
    // staging (old ∪ new), tombstone table deleted, rename never ran
    val tomb = s"${ledgerRoot}_tombstones"
    val fs = new org.apache.hadoop.fs.Path(tomb)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(tomb)
      .unionByName(Seq(74L).toDF("doc_id")).distinct()
      .write.mode("overwrite").parquet(tomb + "_staging")
    fs.delete(new org.apache.hadoop.fs.Path(tomb), true)
    // the next read completes the swap: BOTH requests' keys survive
    val t = Erasure.readTombstones(spark, ledgerRoot).get
      .select("doc_id").as[Long].collect().toSet
    assert(t === Set(37L, 74L))
    // and the fold path filters both
    val kept = Erasure.applyTombstones(spark, ledgerRoot,
      batchDf(Seq(37L, 74L, 99L)))
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(99L))
  }

  test("artifact rebuild: fingerprint misses when erased docs vanish") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val path = SparkSpec.tempDir("graft_erasure_art_").toString + "/a"
    val beforeDf = graft.operators.Dedup.dupEdgesAt(spark, docs, path)
    val before = beforeDf.count()
    val incidentBefore = beforeDf.filter(col("id_a") % 37 === 0 ||
      col("id_b") % 37 === 0).count()
    val builds0 = graft.operators.Dedup.dupEdgeBuildCount
    // same corpus: fresh, no rebuild
    graft.operators.Dedup.dupEdgesAt(spark, docs, path).count()
    assert(graft.operators.Dedup.dupEdgeBuildCount === builds0)
    // erased corpus at the same path: fingerprint misses, rebuilds,
    // and no surviving edge touches an erased doc
    val retained = docs.filter(col("doc_id") % 37 =!= 0)
    val after = graft.operators.Dedup.dupEdgesAt(spark, retained, path)
    assert(graft.operators.Dedup.dupEdgeBuildCount === builds0 + 1)
    assert(after.filter(col("id_a") % 37 === 0 ||
      col("id_b") % 37 === 0).count() === 0L)
    // exact conservation: removal deletes precisely the incident edges
    assert(after.count() === before - incidentBefore)
    assert(incidentBefore > 0L) // non-vacuous on the fixture
  }

  private def versionDirExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("vacuum physically deletes retired versions past the floor " +
      "and completes the erasure") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L, 2L, 37L))
    fold(ledger, ledgerRoot, 1L, Seq(74L, 75L))
    fold(ledger, ledgerRoot, 2L, Seq(76L))
    Erasure.erase(spark, ledgerRoot, Seq(37L, 74L).toDF("doc_id"))
    val pre = Provenance.committedVersions(spark, ledgerRoot)
    assert(pre.map(_._1) === Seq(0L, 1L, 2L, 3L))
    // keepLast=2: versions 0,1 physically gone; 2 (still holding the
    // erased keys) and 3 (the rewrite) remain — erasure NOT yet
    // physically complete
    val m2 = Erasure.vacuum(spark, ledgerRoot, keepLast = 2)
    assert(m2.map(v => (v._1, v._4)) ===
      Seq((0L, false), (1L, false), (2L, true), (3L, true)))
    assert(m2.map(_._3) === Seq(3L, 5L, 6L, 4L)) // pre-deletion counts
    assert(!versionDirExists(pre(0)._3) && !versionDirExists(pre(1)._3))
    assert(Provenance.committedVersions(spark, ledgerRoot).map(_._1)
      === Seq(2L, 3L))
    assert(spark.read.parquet(pre(2)._3)
      .filter(col("doc_id").isin(37L, 74L)).count() === 2L)
    // keepLast=1 completes it: ONLY the rewrite remains, and no
    // retained version holds an erased key
    Erasure.vacuum(spark, ledgerRoot, keepLast = 1)
    val post = Provenance.committedVersions(spark, ledgerRoot)
    assert(post.map(_._1) === Seq(3L))
    assert(post.forall { case (_, _, p) =>
      spark.read.parquet(p)
        .filter(col("doc_id").isin(37L, 74L)).count() == 0L
    })
    // idempotent: a re-run drops nothing and reports the same set
    val again = Erasure.vacuum(spark, ledgerRoot, keepLast = 1)
    assert(again.map(v => (v._1, v._4)) === Seq((3L, true)))
  }

  test("vacuum sweeps the strands of a crashed prior vacuum") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    fold(ledger, ledgerRoot, 0L, Seq(1L))
    fold(ledger, ledgerRoot, 1L, Seq(2L))
    fold(ledger, ledgerRoot, 2L, Seq(3L))
    val vs = Provenance.committedVersions(spark, ledgerRoot)
    // simulate a crash after the marker-first delete of version 0:
    // the dir survives without _SUCCESS — invisible to readers
    val fs = new org.apache.hadoop.fs.Path(ledgerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${vs(0)._3}/_SUCCESS"),
      false)
    assert(Provenance.committedVersions(spark, ledgerRoot).map(_._1)
      === Seq(1L, 2L))
    // the next vacuum (retaining just the head) removes the strand
    Erasure.vacuum(spark, ledgerRoot, keepLast = 1)
    assert(!versionDirExists(vs(0)._3))
    assert(!versionDirExists(vs(1)._3))
    assert(Provenance.committedVersions(spark, ledgerRoot).map(_._1)
      === Seq(2L))
  }

  test("canonical re-election: new canonical survives, is a member, min rule holds") {
    import org.apache.spark.sql.functions._
    val re = Erasure.canonicalReelection(spark, sfDir).collect()
    assert(re.nonEmpty) // sf0.001 plants erased-canonical clusters
    val clusters = graft.operators.Dedup.dupClusters(spark, sfDir)
      .collect()
      .groupBy(_.getAs[Long]("cluster"))
    re.foreach { r =>
      val old = r.getAs[Long]("old_canonical")
      assert(old % 37 === 0L)
      val members = clusters(old).map(_.getAs[Long]("doc_id"))
      val newC = r.getAs[Long]("new_canonical")
      assert(members.contains(newC))
      assert(newC % 37 != 0L)
      // min surviving member wins
      assert(newC === members.filter(_ % 37 != 0L).min)
      assert(r.getAs[Long]("n_surviving") ===
        members.count(_ % 37 != 0L).toLong)
    }
    graft.Caches.releaseAll(spark)
  }
}
