package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Schema evolution on versioned ledgers (q431–q432, block 39) — the
  * r14 verdict's #4: a fold whose input gains a column mid-stream died
  * in `unionByName` (ETL reality: upstream producers add fields
  * without coordinating a ledger rewrite). The widen-and-backfill fold
  * merges with `allowMissingColumns = true` — the union schema is the
  * WIDENED set, rows from the narrower side backfill NULL — so a
  * version's parquet schema only ever grows, old versions keep their
  * original schema (never rewritten), and the manifest records the
  * schema trail: per committed version, row count, column count, and a
  * schema version that increments exactly when the column set changes.
  *
  * Reference anchor: the mixed-case key normalization
  * (/root/reference/src/server.js:141-156) is ingest-time schema drift
  * in miniature — the upstream feed changes shape and the pipeline
  * absorbs it instead of failing.
  *
  * Deterministic evolution: the 3-batch id-range split of `documents`,
  * where batches ≥ 1 carry an extra nullable `rev = doc_id % 5` column
  * (the planted drift both engines can spell). Version 0 commits 3
  * columns; versions 1–2 commit 4, with version-0 rows backfilled NULL.
  *
  * 100 TB shape: widening is metadata-only on the ledger (the merged
  * frame's plan gains a null literal column for old rows — no rewrite
  * of committed versions, no second scan); the manifest is ≤ #versions
  * footer reads.
  */
object SchemaEvolution {

  /** The widen-and-backfill merge: union schema, NULL backfill on
    * whichever side is narrower — tolerant in BOTH directions (a
    * resumed fold reading an old narrow batch after the widening must
    * also merge).
    */
  private[streaming] def widenMerge(state: DataFrame,
      rows: DataFrame): DataFrame =
    state.unionByName(rows, allowMissingColumns = true)

  /** The evolving probe ledger: 3-batch id-range split; batches ≥ 1
    * add the `rev` column. Returns (final state, ledger root).
    */
  private[streaming] def evolvedLedger(spark: SparkSession,
      dir: String): (DataFrame, String) = {
    val streamDir = StreamingOps.idRangeSplitSource(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")), 3)
    val root = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_schema_evo_state_")).toString
    val ledgerRoot = s"$root/state"
    val ledger =
      new StreamingOps.VersionedLedger(spark, ledgerRoot, Some(root))
    StreamingOps.drain(StreamingOps.streamDocuments(spark, streamDir,
        "*.parquet", Some(1)), Some(root)) { (batch, id) =>
      val ss = batch.sparkSession
      if (!ledger.isReplayed(id)) {
        val base = batch.select(col("doc_id"), col("source"),
          col("n_chars"))
        // the planted upstream drift: batch 1 onward ships `rev`
        val rows =
          if (id >= 1) base.withColumn("rev", col("doc_id") % 5)
          else base
        val merged =
          if (ledger.isEmpty) rows
          else widenMerge(ss.read.parquet(ledger.path), rows)
        ledger.write(merged, id)
      }
    }
    val (_, _, path) = Provenance.committedVersions(spark, ledgerRoot)
      .last
    (spark.read.parquet(path), ledgerRoot)
  }

  /** Schema-evolution manifest (q431): the version trail with the
    * schema trail — (version, batch_id, n_rows, n_cols,
    * schema_version), where schema_version increments exactly when a
    * version's column set differs from its predecessor's. The audit
    * row for "when did the feed change shape, and did any committed
    * version get rewritten" (none do — old versions keep 3 columns).
    */
  def schemaManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, root) = evolvedLedger(spark, dir)
    val versions = Provenance.committedVersions(spark, root)
    val rows = versions.foldLeft(
      (Seq.empty[(Long, Long, Long, Long, Long)],
        Option.empty[Set[String]], 0L)) {
      case ((acc, prevCols, sv), (v, b, path)) =>
        val df = spark.read.parquet(path)
        val cols = df.schema.fieldNames.toSet
        val nextSv = if (prevCols.contains(cols)) sv else sv + 1
        (acc :+ ((v, b, df.count(), cols.size.toLong, nextSv)),
          Some(cols), nextSv)
    }._1
    rows.toDF("version", "batch_id", "n_rows", "n_cols",
        "schema_version")
      .orderBy(col("version"))
  }

  /** Post-evolution drain (q432): the widened state rolled up per
    * source — total rows, rows carrying the late-added column, and its
    * sum (NULL backfill excluded on both counts). Proves the widening
    * backfilled exactly the pre-drift rows and lost nothing.
    */
  def evolvedDrain(spark: SparkSession, dir: String): DataFrame = {
    val (state, _) = evolvedLedger(spark, dir)
    state.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rev").isNotNull, 1L).otherwise(0L))
          .as("n_with_rev"),
        coalesce(sum(col("rev")), lit(0L)).as("sum_rev"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // column RENAMES + type WIDENING (q489–q490, r15 verdict #7)
  // ---------------------------------------------------------------

  /** Declared rename mappings — the ledger-manifest analogue of the
    * reference's mixed-case key fixups (server.js:141-156): the
    * upstream feed renames a field; the pipeline maps it back at
    * ingest instead of failing or forking the schema.
    */
  private[streaming] val DeclaredRenames = Map("src" -> "source")

  /** Apply the declared renames to an incoming batch; returns the
    * normalized frame and how many mappings fired.
    */
  private[streaming] def applyRenames(df: DataFrame): (DataFrame, Long) =
    DeclaredRenames.foldLeft((df, 0L)) {
      case ((d, n), (from, to)) =>
        if (d.columns.contains(from))
          (d.withColumnRenamed(from, to), n + 1L)
        else (d, n)
    }

  /** The rename+widen probe ledger: the 3-batch id-range split where
    * batch 1 onward ships `source` under the drifted name `src`
    * (declared rename) and batch 2 widens `n_chars` int → long. The
    * fold normalizes names via the declared map and lets the union's
    * type coercion widen the state — so versions 0–1 store `n_chars`
    * as int, version 2 as bigint, and NO committed version is ever
    * rewritten (the widening is a read-side promotion of old
    * versions, a metadata-only change). Returns
    * (final state, ledger root, per-batch rename counts).
    */
  private[streaming] def renamedWidenedLedger(spark: SparkSession,
      dir: String): (DataFrame, String, Map[Long, Long]) = {
    val streamDir = StreamingOps.idRangeSplitSource(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")), 3)
    val root = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_schema_rw_state_")).toString
    val ledgerRoot = s"$root/state"
    val ledger =
      new StreamingOps.VersionedLedger(spark, ledgerRoot, Some(root))
    val renameCounts =
      new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    StreamingOps.drain(StreamingOps.streamDocuments(spark, streamDir,
        "*.parquet", Some(1)), Some(root)) { (batch, id) =>
      val ss = batch.sparkSession
      if (!ledger.isReplayed(id)) {
        // the planted upstream drift: batch 1+ renames source→src,
        // batch 2 ships n_chars widened to long (0–1 ship int —
        // the fixture values fit int exactly)
        val shaped =
          if (id == 0L)
            batch.select(col("doc_id"), col("source"),
              col("n_chars").cast("int").as("n_chars"))
          else if (id == 1L)
            batch.select(col("doc_id"), col("source").as("src"),
              col("n_chars").cast("int").as("n_chars"))
          else
            batch.select(col("doc_id"), col("source").as("src"),
              col("n_chars"))
        val (rows, nRenamed) = applyRenames(shaped.toDF())
        renameCounts.put(id, nRenamed)
        val merged =
          if (ledger.isEmpty) rows
          else widenMerge(ss.read.parquet(ledger.path), rows)
        ledger.write(merged, id)
      }
    }
    val (_, _, path) = Provenance.committedVersions(spark, ledgerRoot)
      .last
    import scala.jdk.CollectionConverters._
    (spark.read.parquet(path), ledgerRoot,
      renameCounts.asScala.map { case (k, v) => (k.toLong, v.toLong) }
        .toMap)
  }

  /** Rename+widen manifest (q489): the version trail with, per
    * committed version, its stored `n_chars` physical type and how
    * many declared renames fired on its source batch. Versions 0–1
    * keep `int` forever (never rewritten); version 2 commits `bigint`;
    * the rename fires on batches 1 and 2 only — the audit of both
    * drift absorptions.
    */
  def renameWidenManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, root, renames) = renamedWidenedLedger(spark, dir)
    Provenance.committedVersions(spark, root).map { case (v, b, path) =>
      val df = spark.read.parquet(path)
      (v, b, df.count(), df.schema("n_chars").dataType.simpleString,
        renames.getOrElse(b, 0L))
    }.toDF("version", "batch_id", "n_rows", "n_chars_type",
        "n_renamed_cols")
      .orderBy(col("version"))
  }

  /** Rename+widen drain parity (q490): the head state per source must
    * equal the raw table exactly — rows and character mass — proving
    * the rename mapping lost no rows and the int→long widening lost
    * no values.
    */
  def renameWidenDrain(spark: SparkSession, dir: String): DataFrame = {
    val (state, _, _) = renamedWidenedLedger(spark, dir)
    state.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars"))
      .orderBy(col("source"))
  }
}
