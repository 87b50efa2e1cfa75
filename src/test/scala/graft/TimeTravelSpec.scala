package graft

import org.apache.spark.sql.functions._

import graft.streaming.{Erasure, Provenance}

/** The wall-clock AS OF axis (q512–q513): recorded commit timestamps,
  * the equal-timestamp tie-break (highest version wins — a coarse
  * clock cannot reorder commits), sidecar precedence over the derived
  * clock, and the vacuum interaction (asking for a time below the
  * retention floor fails, naming the floor).
  */
class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def mkVersion(root: String, name: String, rows: Seq[Int],
      ts: Option[Long]): Unit = {
    val path = s"$root/$name"
    rows.toDF("x").coalesce(1).write.mode("overwrite").parquet(path)
    ts.foreach(Provenance.writeCommitTs(spark, path, _))
  }

  test("tie-break at equal timestamps: the highest version wins; " +
      "a recorded sidecar overrides the derived clock") {
    val root = Caches.trackTempDir(
      SparkSpec.tempDir("graft_asof_time_")).toString
    val t0 = Provenance.CommitClock.ofBatch(5)
    // two versions of the SAME batch (a rewrite) — same derived ts
    mkVersion(root, "b0_5", Seq(1), None)
    mkVersion(root, "b1_5", Seq(1, 2), None)
    // a later version with an explicit (recorded) timestamp far ahead
    mkVersion(root, "b2_5", Seq(1, 2, 3), Some(t0 + 999999L))
    // as of the shared instant: v1, not v0 (tie-break), not v2
    // (its RECORDED ts is later, though its derived ts would tie)
    assert(Provenance.ledgerAsOfTime(spark, root, t0).count() == 2L)
    // as of the recorded instant: v2
    assert(Provenance.ledgerAsOfTime(spark, root, t0 + 999999L)
      .count() == 3L)
    // before every version: fails naming the floor
    val e = intercept[RuntimeException](
      Provenance.ledgerAsOfTime(spark, root, t0 - 1L))
    assert(e.getMessage.contains("retention floor"))
    assert(e.getMessage.contains("version 0"))
  }

  test("vacuum interaction: a time below the retention floor fails " +
      "with the floor named; the head stays readable") {
    // private registry copy (3 versions at 00:00/01:00/02:00),
    // vacuumed to the last version
    val root = Erasure.registryLedgerDrained(spark, sfDir)
    Erasure.vacuum(spark, root, keepLast = 1)
    val vs = Provenance.versionsWithTime(spark, root)
    assert(vs.size == 1)
    val floorTs = vs.head._3
    // asking below the floor names the floor version
    val e = intercept[RuntimeException](
      Provenance.ledgerAsOfTime(spark, root, floorTs - 1L))
    assert(e.getMessage.contains("retention floor"))
    assert(e.getMessage.contains(s"version ${vs.head._1}"))
    // at/after the floor: the retained head answers
    assert(Provenance.ledgerAsOfTime(spark, root, floorTs).count() ==
      spark.read.parquet(vs.head._4).count())
    Caches.releaseAll(spark)
  }

  test("library writers record timestamps on every committed version") {
    val root = Erasure.registryLedgerShared(spark, sfDir)
    val vs = Provenance.versionsWithTime(spark, root)
    assert(vs.size == 3)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    vs.foreach { case (_, b, ts, path) =>
      // RECORDED, not just derived: the sidecar file must exist
      assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_commit_ts")), path)
      assert(ts == Provenance.CommitClock.ofBatch(b))
    }
    assert(vs.map(_._3) == vs.map(_._3).sorted)
    Caches.releaseAll(spark)
  }
}
