package graft

import org.apache.spark.sql.functions._

import graft.operators.Optimize

/** The OPTIMIZE executor's physical claims (q487–q488), checked
  * against real parquet bytes instead of the oracle's algebra: the
  * rewritten layout round-trips through disk with the DV'd keys
  * physically absent, per-file stats matching the q488 artifact, and
  * the q487 audit's promised improvements actually holding.
  */
class OptimizeSpec extends SparkSpec {

  test("rewrite folds DVs physically and files match the artifact") {
    val out = Caches.trackTempDir(SparkSpec.tempDir("graft_optimize_"))
      .toString + "/orders"
    // the executor's write: one dir per output file id, as a writer
    // honoring maxRecordsPerFile would cut them
    Optimize.rewrittenFiles(spark, sfDir)
      .write.partitionBy("file_id").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    // no deleted key survived the rewrite — on disk, not post-filter
    assert(back.filter(col("o_orderkey") % 37 === 0).count() === 0L)
    // row conservation: exactly the live set
    val live = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 37 =!= 0).count()
    assert(back.count() === live)
    // per-file min/max/count of the bytes equal the q488 zone maps
    val fromDisk = back.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_ok"),
        max(col("o_orderkey")).as("max_ok"),
        min(col("o_custkey")).as("min_ck"),
        max(col("o_custkey")).as("max_ck"))
      .orderBy(col("file_id")).collect().map(_.toSeq)
    val artifact = Optimize.optimizeZonemap(spark, sfDir)
      .collect().map(_.toSeq)
    assert(fromDisk.toSeq === artifact.toSeq)
    Caches.releaseAll(spark)
  }

  test("audit: after scans fewer rows, stores fewer rows, zero DV debt") {
    val rows = Optimize.optimizeAudit(spark, sfDir).collect()
      .map(r => r.getAs[String]("side") -> r).toMap
    val before = rows("before")
    val after = rows("after")
    assert(after.getAs[Long]("dv_rows") === 0L)
    assert(before.getAs[Long]("dv_rows") > 0L)
    assert(after.getAs[Long]("rows_stored") ===
      before.getAs[Long]("rows_stored") - before.getAs[Long]("dv_rows"))
    assert(after.getAs[Long]("rows_scanned_total") <
      before.getAs[Long]("rows_scanned_total"))
    Caches.releaseAll(spark)
  }
}
