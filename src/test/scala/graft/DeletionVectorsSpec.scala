package graft

import org.apache.spark.sql.functions._

import graft.operators.DeletionVectors

/** Stored-state side of the deletion-vector family (q463–q465): the
  * DVs persisted as parquet round-trip the read path, merge is
  * idempotent, and the censuses reconcile across requests.
  */
class DeletionVectorsSpec extends SparkSpec {

  test("stored DVs round-trip: parquet DV anti-join equals the relational read") {
    val docs = DeletionVectors.filedDocs(spark, sfDir).persist()
    val dvPath = Caches.trackTempDir(SparkSpec.tempDir("graft_dv_"))
      .toString + "/dv"
    docs.filter(col("doc_id") % 37 === 0)
      .select(col("file_id"), col("doc_id"))
      .write.mode("overwrite").parquet(dvPath)
    val live = docs.join(spark.read.parquet(dvPath),
        Seq("file_id", "doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source")).collect().map(_.toSeq)
    val want = DeletionVectors.dvReadParity(spark, sfDir)
      .collect().map(_.toSeq)
    assert(live.toSeq === want.toSeq)
    Caches.releaseAll(spark)
  }

  test("dv compaction: both actions fire, live rows invariant") {
    val plan = DeletionVectors.dvCompactionPlan(spark, sfDir).collect()
    val actions = plan.map(_.getAs[String]("action")).toSet
    assert(actions === Set("rewrite", "carry")) // the bar splits files
    val state = DeletionVectors.dvCompactionState(spark, sfDir)
      .collect().map(r => r.getAs[Long]("file_id") -> r).toMap
    plan.foreach { p =>
      val s = state(p.getAs[Long]("file_id"))
      assert(s.getAs[Long]("live_rows") ===
        p.getAs[Long]("n_rows") - p.getAs[Long]("n_deleted"))
      if (p.getAs[String]("action") == "rewrite") {
        assert(s.getAs[Long]("dv_remaining") === 0L)
        assert(s.getAs[Long]("stored_rows") === s.getAs[Long]("live_rows"))
      } else {
        assert(s.getAs[Long]("dv_remaining") === p.getAs[Long]("n_deleted"))
        assert(s.getAs[Long]("stored_rows") === p.getAs[Long]("n_rows"))
      }
    }
    Caches.releaseAll(spark)
  }

  test("merge is idempotent and monotone; censuses reconcile") {
    val c1 = DeletionVectors.dvCensus(spark, sfDir).collect()
    val cm = DeletionVectors.dvMergeCensus(spark, sfDir).collect()
    assert(c1.nonEmpty && cm.nonEmpty)
    // merged deletes dominate request-1 deletes per shared file
    val m1 = c1.map(r => r.getAs[Long]("file_id") ->
      r.getAs[Long]("n_deleted")).toMap
    cm.foreach { r =>
      val f = r.getAs[Long]("file_id")
      m1.get(f).foreach(d1 => assert(r.getAs[Long]("n_deleted") >= d1))
      assert(r.getAs[Long]("live_rows") ===
        r.getAs[Long]("n_rows") - r.getAs[Long]("n_deleted"))
    }
    // total deletes: |A ∪ B| = |A| + |B| − |A ∩ B| over doc ids
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = docs.filter(col("doc_id") % 37 === 0).count()
    val b = docs.filter(col("doc_id") % 41 === 0).count()
    val ab = docs.filter(col("doc_id") % (37L * 41L) === 0).count()
    assert(cm.map(_.getAs[Long]("n_deleted")).sum === a + b - ab)
    Caches.releaseAll(spark)
  }
}
