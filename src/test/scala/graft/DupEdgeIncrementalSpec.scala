package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Contract spec for the incremental erased-artifact maintenance
  * ([[Dedup.incrementalErasedAt]], q426/q427 — the r14 verdict's #1):
  *
  *  1. Fixture parity — the maintained relation is bit-identical to
  *     the full capped-chain rebuild over the retained corpus.
  *  2. Cap-boundary repair — the ONE case where q390's conservation
  *     identity breaks (an over-cap quarantined bucket shrinking back
  *     to ≤ cap under erasure) is detected from the artifact's hot
  *     table and repaired exactly: the maintained relation still
  *     equals the full rebuild, on a synthetic corpus built to cross
  *     the boundary (70-member bucket − 10 erased = 60 ≤ 64) while a
  *     second bucket stays quarantined (80 − 1 = 79 > 64).
  *  3. Maintain-once — a second call reads the committed artifact.
  *  4. Shared key — after maintenance, [[Dedup.dupEdgesAt]] over the
  *     retained corpus at the same path reads the maintained artifact
  *     instead of re-banding (the q390-for-free property).
  */
class DupEdgeIncrementalSpec extends SparkSpec {

  private val Mod = 37

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"),
        format_number(col("jaccard"), 9).as("j"))
      .orderBy(col("id_a"), col("id_b"))
      .collect().toSeq

  test("fixture corpus: maintained relation equals the full rebuild") {
    val docs = Tables.documents(spark, sfDir)
    val root = SparkSpec.tempDir("graft_incr_spec_").toString
    try {
      val maintained = sortedRows(Dedup.incrementalErasedAt(spark, docs,
        s"$root/full", s"$root/erased", Mod))
      val rebuilt = sortedRows(
        Dedup.minhashOracledDf(docs.filter(col("doc_id") % Mod =!= 0)))
      assert(rebuilt.nonEmpty, "retained fixture corpus must have pairs")
      assert(maintained == rebuilt)
    } finally Caches.deleteTree(java.nio.file.Paths.get(root))
  }

  /** Two identical-text cohorts: every member shares one signature, so
    * each cohort fills one bucket per band. Cohort A: 70 docs, 10 with
    * doc_id % 37 == 0 → 60 survivors (crosses the cap boundary; its
    * C(60,2) = 1770 jaccard-1.0 pairs exist ONLY post-erasure). Cohort
    * B: 80 docs, 1 erased → 79 survivors (stays quarantined; zero
    * pairs before AND after).
    */
  private def boundaryCorpus = {
    import spark.implicits._
    val aIds = (1 to 10).map(k => 37L * k) ++
      (1L to 61L).filterNot(_ % Mod == 0).take(60)
    val bIds = Seq(37L * 20) ++
      (2001L to 2200L).filterNot(_ % Mod == 0).take(79)
    val textA = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 10).map(i => s"beta$i").mkString(" ")
    (aIds.map(id => (id, textA)) ++ bIds.map(id => (id, textB)))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("cap-boundary crossing is repaired exactly") {
    val docs = boundaryCorpus
    val root = SparkSpec.tempDir("graft_incr_boundary_").toString
    try {
      // the full-corpus artifact quarantines BOTH cohorts: no edges,
      // 70×4 + 80×4 hot-membership rows
      val full = Dedup.dupEdgesAt(spark, docs, s"$root/full")
      assert(full.count() == 0L)
      val hot = spark.read.parquet(s"$root/full/hot")
      assert(hot.count() == (70L + 80L) * 4)
      val maintained = Dedup.incrementalErasedAt(spark, docs,
        s"$root/full", s"$root/erased", Mod)
      // cohort A re-entered candidacy: C(60,2) identical-text pairs;
      // cohort B stayed quarantined
      assert(maintained.count() == 60L * 59 / 2)
      assert(maintained.filter(col("id_a") >= 2000L ||
        col("id_b") >= 2000L).count() == 0L)
      assert(sortedRows(maintained) == sortedRows(
        Dedup.minhashOracledDf(docs.filter(col("doc_id") % Mod =!= 0))))
      // the maintained artifact's own hot table: only cohort B's 79
      // survivors, in all 4 bands
      val hotAfter = spark.read.parquet(s"$root/erased/hot")
      assert(hotAfter.count() == 79L * 4)
      assert(hotAfter.filter(col("doc_id") < 2000L).count() == 0L)
    } finally Caches.deleteTree(java.nio.file.Paths.get(root))
  }

  test("second call reads the maintained artifact, never re-maintains") {
    val docs = Tables.documents(spark, sfDir)
    val root = SparkSpec.tempDir("graft_incr_once_").toString
    try {
      Dedup.incrementalErasedAt(spark, docs, s"$root/full",
        s"$root/erased", Mod).count()
      val incrs = Dedup.dupEdgeIncrCount
      val builds = Dedup.dupEdgeBuildCount
      Dedup.incrementalErasedAt(spark, docs, s"$root/full",
        s"$root/erased", Mod).count()
      assert(Dedup.dupEdgeIncrCount == incrs,
        "same corpus + same path must not re-maintain")
      // the q390-for-free property: a full-rebuild consumer of the
      // SAME erased key sees a fresh artifact and reads it
      Dedup.dupEdgesAt(spark, docs.filter(col("doc_id") % Mod =!= 0),
        s"$root/erased").count()
      assert(Dedup.dupEdgeBuildCount == builds,
        "maintained artifact must satisfy the rebuild path's " +
          "fingerprint check")
    } finally Caches.deleteTree(java.nio.file.Paths.get(root))
  }
}
