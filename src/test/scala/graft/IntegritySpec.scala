package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Integrity-family properties (q483–q485) the oracles can't see:
  * checksum order-independence, restore parity through an actual
  * second read, and tamper DETECTION — editing a mid-trail version
  * changes its link and every later one while earlier links stand.
  */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  test("additive checksum is order-independent and detects one changed row") {
    val m = Integrity.exportManifest(spark, sfDir).collect()
    assert(m.length === 3)
    // recompute the head checksum over a shuffled, repartitioned read
    val root = Erasure.registryLedgerShared(spark, sfDir)
    val headPath = Provenance.committedVersions(spark, root).maxBy(_._1)._3
    def sumOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(expr("CAST(conv(substring(md5(concat_ws('|', " +
        "doc_id, source, n_chars)), 1, 10), 16, 10) AS LONG)")))
        .collect()(0).getLong(0)
    val head = spark.read.parquet(headPath)
    val shuffled = head.repartition(7, col("source"))
    assert(sumOf(shuffled) === m.last.getAs[Long]("checksum"))
    // one altered row moves it
    val tampered = head.withColumn("n_chars",
      when(col("doc_id") === head.agg(min(col("doc_id")))
        .collect()(0).getLong(0), col("n_chars") + 1L)
        .otherwise(col("n_chars")))
    assert(sumOf(tampered) !== m.last.getAs[Long]("checksum"))
    graft.Caches.releaseAll(spark)
  }

  test("restore parity detects a tampered export") {
    val root = Erasure.registryLedgerShared(spark, sfDir)
    val exportRoot = graft.Caches.trackTempDir(
      SparkSpec.tempDir("graft_export_t_")).toString
    Integrity.exportVersions(spark, root, exportRoot)
    // tamper the v1 backup: drop one row and rewrite the copy
    val v1 = s"$exportRoot/v1"
    val rows = spark.read.parquet(v1).collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq.drop(1)),
        spark.read.parquet(v1).schema)
      .write.mode("overwrite").parquet(v1)
    val m = Integrity.manifestOf(spark, root)
    val verdicts = m.join(
        Integrity.restoredManifest(spark, root, exportRoot),
        Seq("version"))
      .select(col("version"),
        (col("n_rows") === col("n_rows_restored") &&
          col("checksum") === col("checksum_restored")).as("intact"))
      .collect().map(r => r.getAs[Long]("version") ->
        r.getAs[Boolean]("intact")).toMap
    assert(!verdicts(1L)) // the tampered backup surfaces
    assert(verdicts(0L) && verdicts(2L)) // untouched copies stand
    graft.Caches.releaseAll(spark)
  }

  test("restore executor: a dropped backup version breaks the chain there") {
    val root = Erasure.registryLedgerShared(spark, sfDir)
    val work = graft.Caches.trackTempDir(
      SparkSpec.tempDir("graft_restore_t_"))
      .toString
    Integrity.exportVersions(spark, root, s"$work/backup")
    // lose version 1's backup AND its manifest row (a partial backup)
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/backup/v1"), true)
    val manifest = spark.read
      .parquet(s"$work/backup/_backup_manifest")
      .filter(col("version") =!= 1L)
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$work/backup/_backup_manifest_fix")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$work/backup/_backup_manifest"), true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$work/backup/_backup_manifest_fix"),
      new org.apache.hadoop.fs.Path(s"$work/backup/_backup_manifest")))
    Integrity.restoreLedger(spark, s"$work/backup", s"$work/restored")
    val src = Integrity.chainOf(spark, root)
    val rst = Integrity.chainOf(spark, s"$work/restored")
    assert(rst.length === src.length - 1)
    // link 0 stands; the trail diverges from the gap onward
    assert(rst.head._3 === src.head._3)
    assert(rst.last._3 !== src.last._3)
    graft.Caches.releaseAll(spark)
  }

  test("restore parity is all-intact; hash chain detects a mid-trail edit") {
    Integrity.restoreParity(spark, sfDir).collect()
      .foreach(r => assert(r.getAs[Boolean]("intact")))
    val root = Erasure.registryLedgerDrained(spark, sfDir)
    val before = Integrity.chainOf(spark, root)
    // tamper version 1: drop one row and rewrite the version dir
    val v1 = Provenance.committedVersions(spark, root)
      .find(_._1 == 1L).get._3
    val rows = spark.read.parquet(v1)
    val minId = rows.agg(min(col("doc_id"))).collect()(0).getLong(0)
    val edited = rows.filter(col("doc_id") =!= minId).collect()
    val schema = rows.schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(edited.toSeq), schema)
      .write.mode("overwrite").parquet(v1)
    val after = Integrity.chainOf(spark, root)
    assert(after.head._3 === before.head._3) // link 0 stands
    assert(after(1)._3 !== before(1)._3) // the edited link moves
    assert(after(2)._3 !== before(2)._3) // ...and every later one
    graft.Caches.releaseAll(spark)
  }

  test("PITR: truncation is exact; a target below the backup's " +
      "retention floor fails naming the floor") {
    // normal PITR: restore to v1 leaves exactly versions 0-1
    val root = Erasure.registryLedgerShared(spark, sfDir)
    val work = SparkSpec.tempDir("graft_pitr_spec_").toString
    Integrity.exportVersions(spark, root, s"$work/backup")
    Integrity.restoreTo(spark, s"$work/backup", s"$work/r1", 1L)
    assert(Provenance.committedVersions(spark, s"$work/r1")
      .map(_._1) === Seq(0L, 1L))
    // a target beyond the backup head names the head
    val eHigh = intercept[RuntimeException](Integrity.restoreTo(
      spark, s"$work/backup", s"$work/rx", 9L))
    assert(eHigh.getMessage.contains("head is version 2"))
    // the floor drill: vacuum a private copy to its head, back THAT
    // up, and ask for a pre-floor version - the error names the floor
    val vroot = Erasure.registryLedgerDrained(spark, sfDir)
    Erasure.vacuum(spark, vroot, keepLast = 1)
    Integrity.exportVersions(spark, vroot, s"$work/backup_vac")
    val eLow = intercept[RuntimeException](Integrity.restoreTo(
      spark, s"$work/backup_vac", s"$work/rv", 0L))
    assert(eLow.getMessage.contains("retention floor is version 2"))
    assert(eLow.getMessage.contains("physically gone"))
    graft.Caches.releaseAll(spark)
  }
}
