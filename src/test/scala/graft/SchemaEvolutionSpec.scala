package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Widen-and-backfill fold contract ([[SchemaEvolution.widenMerge]],
  * q431/q432): a mid-stream column add merges instead of dying in
  * unionByName, backfills NULL for pre-drift rows, tolerates the
  * narrow→wide AND wide→narrow directions (a replayed old batch after
  * the widening), and never rewrites committed versions.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    SparkSpec.tempDir("graft_schema_spec_").toString

  private def narrow(ids: Seq[Long]) =
    ids.map(i => (i, s"s${i % 2}")).toDF("doc_id", "source")

  private def wide(ids: Seq[Long]) =
    ids.map(i => (i, s"s${i % 2}", i % 5)).toDF(
      "doc_id", "source", "rev")

  test("3-batch replay where batch 1 adds a column") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    // batch 0: narrow; batches 1..2: the upstream added `rev`
    ledger.write(narrow(Seq(1L, 2L)), 0L)
    ledger.write(SchemaEvolution.widenMerge(
      spark.read.parquet(ledger.path), wide(Seq(3L, 4L))), 1L)
    ledger.write(SchemaEvolution.widenMerge(
      spark.read.parquet(ledger.path), wide(Seq(5L))), 2L)
    val vs = Provenance.committedVersions(spark, ledgerRoot)
    assert(vs.map(_._1) === Seq(0L, 1L, 2L))
    // committed versions keep their original schema — never rewritten
    assert(spark.read.parquet(vs(0)._3).schema.fieldNames.toSet
      === Set("doc_id", "source"))
    assert(spark.read.parquet(vs(2)._3).schema.fieldNames.toSet
      === Set("doc_id", "source", "rev"))
    val state = spark.read.parquet(vs(2)._3)
    assert(state.count() === 5L)
    // pre-drift rows backfilled NULL; post-drift rows carry the value
    assert(state.filter(col("rev").isNull)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(state.filter(col("doc_id") === 4L)
      .select("rev").as[Long].head() === 4L)
  }

  test("a replayed NARROW batch after the widening also merges") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    ledger.write(wide(Seq(1L, 2L)), 0L)
    // late producer still on the old schema: wide state + narrow rows
    ledger.write(SchemaEvolution.widenMerge(
      spark.read.parquet(ledger.path), narrow(Seq(3L))), 1L)
    val state = spark.read.parquet(
      Provenance.committedVersions(spark, ledgerRoot).last._3)
    assert(state.schema.fieldNames.toSet
      === Set("doc_id", "source", "rev"))
    assert(state.filter(col("doc_id") === 3L)
      .select(col("rev").isNull).head().getBoolean(0))
  }

  test("renames map at ingest; int→long widens by coercion; old versions keep int") {
    val (state, root, renames) =
      SchemaEvolution.renamedWidenedLedger(spark, sfDir)
    // the declared src→source mapping fired on batches 1 and 2 only
    assert(renames === Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
    // the drifted name never reaches storage
    val vs = Provenance.committedVersions(spark, root)
    vs.foreach { case (_, _, path) =>
      assert(!spark.read.parquet(path).columns.contains("src"))
    }
    // widening: v0/v1 keep int forever (never rewritten), v2 is long
    assert(spark.read.parquet(vs(0)._3).schema("n_chars")
      .dataType.simpleString === "int")
    assert(spark.read.parquet(vs(1)._3).schema("n_chars")
      .dataType.simpleString === "int")
    assert(state.schema("n_chars").dataType.simpleString === "bigint")
    // value parity: no row or character lost through rename+widen
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    val got = state.agg(count(lit(1)),
      sum(col("n_chars"))).head()
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    graft.Caches.releaseAll(spark)
  }

  test("a replayed INT batch after the long widening still merges") {
    // late producer on the old narrow type: long state + int rows
    val longState = Seq((1L, "s0", 10L)).toDF(
      "doc_id", "source", "n_chars")
    val intRows = Seq((2L, "s1", 7)).toDF(
      "doc_id", "source", "n_chars")
    val merged = SchemaEvolution.widenMerge(longState, intRows)
    assert(merged.schema("n_chars").dataType.simpleString === "bigint")
    assert(merged.agg(sum(col("n_chars"))).head().getLong(0) === 17L)
  }

  test("restart resumes the widened ledger and the replay gate holds") {
    val root = freshRoot()
    val ledgerRoot = s"$root/state"
    val ledger = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    ledger.write(narrow(Seq(1L)), 0L)
    ledger.write(SchemaEvolution.widenMerge(
      spark.read.parquet(ledger.path), wide(Seq(2L))), 1L)
    val resumed = new StreamingOps.VersionedLedger(spark, ledgerRoot,
      Some(root))
    // crash-replay of batch 1 must be skipped, not re-widened
    assert(resumed.isReplayed(1L))
    // forward progress on the widened schema
    if (!resumed.isReplayed(2L))
      resumed.write(SchemaEvolution.widenMerge(
        spark.read.parquet(resumed.path), wide(Seq(9L))), 2L)
    val state = spark.read.parquet(
      Provenance.committedVersions(spark, ledgerRoot).last._3)
    assert(state.count() === 3L)
    assert(state.filter(col("rev").isNotNull).count() === 2L)
  }
}
