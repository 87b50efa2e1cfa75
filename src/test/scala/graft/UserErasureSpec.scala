package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** User-scope erasure (q404–q408): user tombstones kill LATE events
  * from an erased user, and the retention rewrite is idempotent.
  */
class UserErasureSpec extends SparkSpec {
  import spark.implicits._

  test("a late event from an erased user is tombstone-dropped") {
    val (state, ledgerRoot) =
      UserErasure.erasedEventsLedger(spark, sfDir)
    assert(state.filter(col("user_id") % 97 === 0).count() === 0L)
    // late arrival: one event from erased user 0, one from user 1
    val late = Seq((999999L, 0L, "click"), (999998L, 1L, "click"))
      .toDF("event_id", "user_id", "event_type")
    val kept = Erasure.applyTombstones(spark, ledgerRoot, late,
      keyCol = "user_id")
    assert(kept.select("user_id").as[Long].collect().toSet === Set(1L))
  }

  test("retention retire is idempotent") {
    val root = SparkSpec.tempDir("graft_retire_spec_").toString
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("doc_id", "age")
      .write.mode("overwrite").parquet(s"$ledgerRoot/b0_0")
    // a committed version needs its _SUCCESS (parquet write adds it)
    Erasure.retire(spark, ledgerRoot, col("age") < 20)
    val v1 = Provenance.committedVersions(spark, ledgerRoot).last
    assert(spark.read.parquet(v1._3).count() === 2L)
    assert(v1._1 === 1L && v1._2 === 0L) // same source batch id
    Erasure.retire(spark, ledgerRoot, col("age") < 20)
    val v2 = Provenance.committedVersions(spark, ledgerRoot).last
    assert(spark.read.parquet(v2._3).count() === 2L) // unchanged
    val _ = ledger // the handle is only needed to seed the root
  }
}
