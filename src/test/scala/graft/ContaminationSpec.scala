package graft

import org.apache.spark.sql.functions._

import graft.operators.Contamination

/** Cross-split contamination (q412–q415): cells sum-merge (the q415
  * contract) and the fixture is non-vacuous.
  */
class ContaminationSpec extends SparkSpec {

  test("purge cells sum-merge: two halves equal the one-shot summary") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val testWPath = SparkSpec.tempDir("graft_ctm_spec_").toString + "/w"
    Contamination.buildTestWindowTable(spark, sfDir, testWPath)
    val testW = spark.read.parquet(testWPath)
    val whole = Contamination.purgeFromCells(
      Contamination.purgeCellsOf(docs, testW)).collect().toSeq
    val merged = Contamination.purgeFromCells(
      Contamination.purgeCellsOf(docs.filter(col("doc_id") % 2 === 0),
          testW)
        .unionByName(Contamination.purgeCellsOf(
          docs.filter(col("doc_id") % 2 === 1), testW)))
      .collect().toSeq
    assert(whole == merged)
    Caches.releaseAll(spark)
  }

  test("the fixture carries real contamination and the purge shrinks " +
      "exactly the affected docs") {
    val purge = Contamination.contaminationPurge(spark, sfDir).collect()
    assert(purge.nonEmpty) // non-vacuous
    purge.foreach { r =>
      assert(r.getAs[Long]("n_dup_windows") > 0L)
      assert(r.getAs[Long]("n_kept_tokens") < r.getAs[Long]("n_tokens"))
    }
    Caches.releaseAll(spark)
  }
}
