package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gated-commit properties (q496–q497) beyond the oracles: the state
  * versions physically contain no violating row, the dead letters
  * only violating rows, both trails share stream positions, and the
  * split conserves every arrival.
  */
class GatedCommitSpec extends SparkSpec {
  import spark.implicits._

  test("crash between quarantine and state commit replays losslessly") {
    // quarantine-first ordering: the dead-letter version lands, the
    // process dies before the state commit — the restarted fold must
    // re-run (state gate not set), skip the already-committed
    // quarantine (its own gate), and end with BOTH trails
    // single-versioned at the same position
    val root = SparkSpec.tempDir("graft_gate_crash_").toString
    val dead = new StreamingOps.VersionedLedger(spark, s"$root/dead",
      Some(root))
    val bad = Seq((2L, "s0", 50L)).toDF("doc_id", "source", "n_chars")
    dead.write(bad, 0L) // first attempt's quarantine, then the crash
    // restart: handles re-seed from disk
    val ledger2 = new StreamingOps.VersionedLedger(spark,
      s"$root/state", Some(root))
    val dead2 = new StreamingOps.VersionedLedger(spark, s"$root/dead",
      Some(root))
    assert(!ledger2.isReplayed(0L)) // the fold re-runs
    assert(dead2.isReplayed(0L)) // the quarantine does not double
    if (!dead2.isReplayed(0L)) dead2.write(bad, 0L)
    ledger2.write(
      Seq((1L, "s0", 200L)).toDF("doc_id", "source", "n_chars"), 0L)
    val sv = Provenance.committedVersions(spark, s"$root/state")
    val dv = Provenance.committedVersions(spark, s"$root/dead")
    assert(sv.map(v => (v._1, v._2)) === Seq((0L, 0L)))
    assert(dv.map(v => (v._1, v._2)) === Seq((0L, 0L)))
    assert(spark.read.parquet(dv.head._3).count() === 1L)
    assert(spark.read.parquet(sv.head._3).count() === 1L)
    graft.Caches.releaseAll(spark)
  }

  test("gate splits physically by the catalog in force; positions " +
      "align; conservation holds; warns never quarantine") {
    val stateRoot = GatedCommit.gatedShared(spark, sfDir)
    val deadRoot = s"${stateRoot}_dead"
    val rulesRoot = s"${stateRoot}_rules"
    val sv = Provenance.committedVersions(spark, stateRoot)
    val dv = Provenance.committedVersions(spark, deadRoot)
    // both trails carry the same stream positions; the catalog ledger
    // carries its two committed contract versions
    assert(sv.map(v => (v._1, v._2)) === dv.map(v => (v._1, v._2)))
    assert(Provenance.committedVersions(spark, rulesRoot)
      .map(v => (v._1, v._2)) === Seq((0L, 0L), (1L, 1L)))
    // the head state holds no row violating ITS batch's floor: batch
    // 0 rows gated at 100, later rows at 150 — so nothing under 100
    // anywhere, and every 100..149 survivor must be a batch-0 arrival
    val head = spark.read.parquet(sv.last._3)
    assert(head.filter(col("n_chars") < 100).count() === 0L)
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = (hi - lo + 3) / 3
    assert(head.filter(col("n_chars") < 150 &&
      col("doc_id") >= lo + span).count() === 0L,
      "a post-catalog-change batch leaked a row under the new floor")
    // dead letters: only violations, each naming rule + catalog version
    val deadHead = spark.read.parquet(dv.last._3)
    assert(deadHead.filter(col("rule").isNull).count() === 0L)
    assert(deadHead.filter(col("catalog_version") === 0L &&
      col("n_chars") >= 100).count() === 0L)
    assert(deadHead.filter(col("catalog_version") === 1L &&
      col("n_chars") >= 150).count() === 0L)
    // warn rows annotated IN STATE, never quarantined for a warn
    assert(head.filter(col("warns") === "rw_doc_short" &&
      col("n_chars") >= 200).count() === 0L)
    assert(head.filter(col("warns") === "rw_doc_short").count() > 0L)
    assert(deadHead.filter(col("rule") === "rw_doc_short")
      .count() === 0L)
    // head conservation against the raw table
    val raw = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(head.count() + deadHead.count() === raw)
    assert(deadHead.count() > 0L) // non-vacuous
    graft.Caches.releaseAll(spark)
  }
}
