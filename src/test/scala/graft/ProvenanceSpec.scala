package graft

import org.apache.spark.sql.functions._

import graft.streaming.Provenance

/** Lineage/provenance family (q355–q359) on a crafted corpus where the
  * id-range batch plan is computable by hand: doc_ids 0..8, lo=0 hi=8,
  * span=(8+3)//3=3 → batch 0={0,1,2}, 1={3,4,5}, 2={6,7,8}. Source
  * "alpha" spans all three batches, "beta" first appears in batch 1,
  * "gamma" only in batch 2 — so the manifest prefixes, the first-writer
  * mins, and the time-travel cut all have distinct hand-checked values.
  */
class ProvenanceSpec extends SparkSpec {

  private def craftedDir(): String = {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_provspec_").toString
    val docs = Seq(
      (0L, "alpha"), (1L, "alpha"), (2L, "alpha"),
      (3L, "alpha"), (4L, "beta"), (5L, "beta"),
      (6L, "alpha"), (7L, "gamma"), (8L, "gamma"))
      .map { case (id, src) =>
        val text = s"doc $id body"
        (id, text, "en", src, text.length.toLong)
      }
    val tmp = s"$root/_w"
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$root/documents.parquet").toPath)
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
    root
  }

  test("ledger manifest: version v = batches 0..v, cumulative rollups") {
    val dir = craftedDir()
    val got = Provenance.ledgerManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq((0L, 0L, 1L, 3L), (1L, 1L, 2L, 6L),
      (2L, 2L, 3L, 9L)), s"manifest was $got")
    Caches.releaseAll(spark)
  }

  test("first-writer provenance: min batch per key, counts over all batches") {
    val dir = craftedDir()
    val got = Provenance.firstWriterProvenance(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("alpha", 0L, 5L), ("beta", 1L, 2L),
      ("gamma", 2L, 2L)), s"first-writer was $got")
    Caches.releaseAll(spark)
  }

  test("time travel: version 1 holds exactly batches 0..1 (no gamma)") {
    val dir = craftedDir()
    val got = Provenance.stateAsOfVersion(spark, dir, version = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("alpha", 4L), ("beta", 2L)), s"asof was $got")
    Caches.releaseAll(spark)
  }

  test("time travel fails loudly on a version that was never committed") {
    val dir = craftedDir()
    val ex = intercept[RuntimeException] {
      Provenance.stateAsOfVersion(spark, dir, version = 7L).collect()
    }
    assert(ex.getMessage.contains("version 7"), ex.getMessage)
    Caches.releaseAll(spark)
  }

  test("conservation audit: every source conserved on a clean run") {
    val dir = craftedDir()
    val got = Provenance.lineageConservation(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got == Seq(("alpha", 5L, 5L, true), ("beta", 2L, 2L, true),
      ("gamma", 2L, 2L, true)), s"conservation was $got")
    Caches.releaseAll(spark)
  }

  test("committedVersions excludes a crash-partial version dir (no _SUCCESS)") {
    val root = SparkSpec.tempDir("graft_provledger_").toString
    def mk(name: String, committed: Boolean): Unit = {
      val d = new java.io.File(s"$root/$name")
      assert(d.mkdirs())
      if (committed)
        assert(new java.io.File(d, "_SUCCESS").createNewFile())
    }
    mk("b0_0", committed = true)
    mk("b1_1", committed = true)
    mk("b2_5", committed = false) // crash mid-write: dir, no marker
    val got = Provenance.committedVersions(spark, root)
      .map { case (v, b, _) => (v, b) }
    assert(got == Seq((0L, 0L), (1L, 1L)), s"versions were $got")
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }
}
