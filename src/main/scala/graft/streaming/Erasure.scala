package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Erasure / right-to-be-forgotten propagation (q386–q390) — the r13
  * verdict's #1 gap: q347 FINDS exposed identities and q348 writes a
  * scrubbed copy, but nothing DELETED a given doc set through the
  * system. This family composes the three existing surfaces into that
  * lifecycle step: the PII sweep's scope (which rows an erasure
  * request touches, across documents / embeddings / the dup-edge
  * artifact), the versioned ledgers (rewrite affected state as a NEW
  * committed version with the erased keys dropped — old versions
  * retired, never edited in place), the dup-edge artifact's freshness
  * fingerprint (erased docs vanish → the artifact rebuilds, and the
  * rebuilt edge set obeys an exact conservation identity), and q359's
  * conservation-audit shape (post-erasure: retained rows all present,
  * erased rows all gone, nothing else lost).
  *
  * The reference's own delete flows are the §2 anchor: the chunked
  * DELETE + per-key cache wipe
  * (/root/reference/src/controllers/contactpoint.controller.js:176-227,
  * /root/reference/src/services/preloadRedis.js:15-29) remove a
  * contact and invalidate the derived Redis view; this family is the
  * GDPR-era composition of exactly those two moves — remove the rows,
  * invalidate every derived artifact — plus the audit trail a
  * regulated pipeline must keep.
  *
  * Durability contract (the "erased stays erased" property, pinned by
  * ErasureSpec across a restart): the erasure is committed
  * TOMBSTONE-FIRST. The erased key set is appended to a tombstone
  * table BESIDE the ledger before the rewritten version is written;
  * every subsequent fold — including a crash-replayed micro-batch and
  * any batch that arrives after the request — anti-joins its input
  * against the tombstones. A crash between the tombstone write and
  * the version write therefore re-erases on the next fold instead of
  * resurrecting the keys; a crash before the tombstone write is a
  * not-yet-executed request (the requester retries — erasure is
  * idempotent). The rewritten version keeps the SOURCE BATCH ID of
  * the version it retired (name `b<v+1>_<sameBatch>`): erasure
  * changes state CONTENT, not stream progress, so the replay
  * watermark must not move.
  *
  * Deterministic request: doc_id % 37 == 0 — the takedown list both
  * engines can spell (the q82/q117 planted-fixture discipline).
  *
  * 100 TB shape: the plan is three narrow scans (documents and
  * embeddings never ship text/vectors — only ids and group keys
  * shuffle) plus one read of the already-built edge artifact; the
  * executor rewrites ONE state-grain table (≤ #keys rows) and never
  * rescans the corpus; tombstones are a bare id column the folds
  * broadcast-anti-join; the artifact rebuild is the standard banding
  * chain over the RETAINED corpus, triggered by the same fingerprint
  * that already guards every consumer.
  */
object Erasure {

  /** The deterministic erasure request: one in every 37 doc ids. */
  private val ErasureMod = 37

  private[streaming] def erasedPred = col("doc_id") % ErasureMod === 0

  // ---------------------------------------------------------------
  // tombstones
  // ---------------------------------------------------------------

  private def tombstonePath(ledgerRoot: String): String =
    s"${ledgerRoot}_tombstones"

  /** Erased keys recorded beside the ledger, or None before any
    * erasure. A sibling dir (not inside the root) so the version
    * listing never confuses it with a `b<n>` dir.
    *
    * Recovery: [[erase]] swaps the table via staging-write →
    * delete-old → rename; a crash between the delete and the rename
    * leaves only a COMMITTED staging dir, and without recovery the
    * accumulated tombstones of every prior request would silently
    * vanish (erased keys resurrected — the one unacceptable failure).
    * So a read that finds no table but a committed staging dir
    * completes the swap first (the StreamState.maybeCompact
    * recover() discipline).
    */
  private[streaming] def readTombstones(spark: SparkSession,
      ledgerRoot: String): Option[DataFrame] = {
    val tomb = tombstonePath(ledgerRoot)
    val p = new org.apache.hadoop.fs.Path(tomb)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = fs.exists(new org.apache.hadoop.fs.Path(
      tomb + "/_SUCCESS"))
    if (!committed && fs.exists(new org.apache.hadoop.fs.Path(
        tomb + "_staging/_SUCCESS"))) {
      if (fs.exists(p)) fs.delete(p, true) // partial pre-crash dir
      if (!fs.rename(new org.apache.hadoop.fs.Path(tomb + "_staging"),
          p))
        sys.error(s"tombstone swap recovery failed: " +
          s"rename(${tomb}_staging -> $tomb)")
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(tomb + "/_SUCCESS")))
      Some(spark.read.parquet(tomb))
    else None
  }

  /** Drop tombstoned keys from a fold input (no-op before the first
    * erasure). The tombstone table is a bare id column — broadcast it
    * so the anti-join never shuffles the state side.
    */
  private[streaming] def applyTombstones(spark: SparkSession,
      ledgerRoot: String, rows: DataFrame,
      keyCol: String = "doc_id"): DataFrame =
    readTombstones(spark, ledgerRoot) match {
      case Some(t) =>
        rows.join(broadcast(t), Seq(keyCol), "left_anti")
      case None => rows
    }

  /** Execute an erasure request against a versioned ledger whose state
    * grain carries `doc_id`: commit the tombstones FIRST (append to
    * any prior request — erasure accumulates), then retire the current
    * version by writing its anti-joined rewrite as the next version
    * under the SAME source batch id. Idempotent: re-running the same
    * request writes an identical version.
    */
  private[streaming] def erase(spark: SparkSession, ledgerRoot: String,
      erasedIds: DataFrame, keyCol: String = "doc_id"): Unit = {
    val tomb = tombstonePath(ledgerRoot)
    val merged = readTombstones(spark, ledgerRoot) match {
      case Some(t) => t.unionByName(erasedIds.select(col(keyCol)))
        .distinct()
      case None => erasedIds.select(col(keyCol)).distinct()
    }
    // tombstone-first: once this commits, every future fold filters
    // the erased keys even if the version rewrite below never runs.
    // The union above already read the old table, so an in-place
    // overwrite here is safe single-writer (the ledger contract).
    val staging = tomb + "_staging"
    merged.write.mode("overwrite").parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(tomb)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(tomb)))
      fs.delete(new org.apache.hadoop.fs.Path(tomb), true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(tomb)))
      sys.error(s"tombstone swap failed: rename($staging -> $tomb)")
    val (v, b, path) = Provenance.committedVersions(spark, ledgerRoot)
      .lastOption.getOrElse(sys.error(
        s"erasure against an empty ledger: no committed version " +
          s"under $ledgerRoot"))
    val snapshot = spark.read.parquet(path)
    val tombDf = spark.read.parquet(tomb)
    val rewritten = snapshot.join(broadcast(tombDf), Seq(keyCol),
      "left_anti")
    // same batch id: content rewrite, not stream progress. The change
    // set (the removed rows, old values, type 'delete') commits
    // atomically with the rewrite via stage + rename, so the change
    // feed serves the erasure from metadata (q452/q486).
    val removed = snapshot.join(broadcast(tombDf), Seq(keyCol),
        "left_semi")
      .withColumn("change_type", lit("delete"))
    val dest = s"$ledgerRoot/b${v + 1}_$b"
    val vStaging = s"$ledgerRoot/_staging_b${v + 1}_$b"
    rewritten.write.mode("overwrite").parquet(vStaging)
    removed.write.mode("overwrite").parquet(s"$vStaging/_changeset")
    fs.delete(new org.apache.hadoop.fs.Path(dest), true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(vStaging),
        new org.apache.hadoop.fs.Path(dest)))
      sys.error(s"erasure commit failed: rename($vStaging -> $dest)")
  }

  /** Physically delete retired ledger versions past a retention floor
    * (the r14 verdict's #2 / the ADVICE compliance hole): [[erase]]
    * rewrites state as a NEW version but prior versions — including
    * every erased row — stay on disk and time-travel-readable via
    * [[Provenance.stateAsOfVersion]], so an erasure is only
    * "logically complete" until this runs. `vacuum(root, keepLast=1)`
    * after an erase makes it PHYSICAL: every version that predates the
    * rewrite is gone from the filesystem, and a q358-style time-travel
    * read of a vacuumed version now fails loudly instead of answering
    * with erased PII.
    *
    * Crash discipline (the Delta-VACUUM shape adapted to the
    * `b<v>_<batch>` layout): per dropped version, the `_SUCCESS`
    * commit marker is deleted FIRST (one atomic file delete — the
    * version becomes uncommitted and invisible to every reader/resume
    * path), then the dir. A crash between the two strands an
    * uncommitted dir that readers already ignore; the next vacuum
    * sweeps any marker-less version dir below the retention floor.
    * Idempotent: re-running deletes nothing new and returns the same
    * retained set.
    *
    * Returns the audit manifest, one row per version that was
    * committed at entry: (version, source batch id, row count at
    * vacuum time, retained). Row counts are taken BEFORE deletion —
    * the last accounting of a dropped version a regulator can ask for.
    *
    * 100 TB shape: driver-side listing + one count per version (≤
    * #versions narrow scans) + file deletes; never touches row data.
    */
  def vacuum(spark: SparkSession, ledgerRoot: String,
      keepLast: Int = 1): Seq[(Long, Long, Long, Boolean)] = {
    require(keepLast >= 1, s"vacuum must retain at least one version")
    import org.apache.hadoop.fs.Path
    val fs = new Path(ledgerRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = Provenance.committedVersions(spark, ledgerRoot)
    val cut = math.max(0, versions.length - keepLast)
    val manifest = versions.zipWithIndex.map { case ((v, b, path), i) =>
      (v, b, spark.read.parquet(path).count(), i >= cut)
    }
    versions.take(cut).foreach { case (_, _, path) =>
      // marker first: one atomic delete de-commits the version before
      // any data file disappears, so no reader ever sees a committed
      // marker over a partially deleted dir
      fs.delete(new Path(s"$path/_SUCCESS"), false)
      fs.delete(new Path(path), true)
    }
    // sweep strands of a previously crashed vacuum: marker-less
    // version dirs below the lowest retained version
    val floor = versions.drop(cut).headOption.map(_._1)
    floor.foreach { f =>
      val root = new Path(ledgerRoot)
      if (fs.exists(root)) fs.listStatus(root).map(_.getPath)
        .filter { p =>
          val name = p.getName
          name.startsWith("b") &&
            name.drop(1).takeWhile(_ != '_').toLongOption.exists(_ < f) &&
            !fs.exists(new Path(p, "_SUCCESS"))
        }
        .foreach(p => fs.delete(p, true))
    }
    manifest
  }

  /** Vacuum manifest (q428): the erasure lifecycle completed — the
    * registry ledger erased (q387) and then vacuumed to the rewrite
    * (`keepLast = 1`), emitting the version trail with the retention
    * verdict per version: versions 0..2 (the batch prefixes, every one
    * still holding the erased keys) dropped, version 3 (the rewrite)
    * retained. The row counts are the pre-deletion accounting.
    */
  def vacuumManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, root) = erasedRegistryLedger(spark, dir)
    vacuum(spark, root, keepLast = 1)
      .toDF("version", "batch_id", "n_rows", "retained")
      .orderBy(col("version"))
  }

  /** Post-vacuum erasure audit (q429): read back EVERY version still
    * committed on disk after erase + vacuum and count erased-key rows
    * readable in each — the physical-completeness certificate. Exactly
    * one version (the rewrite) must remain, with zero erased rows; a
    * vacuum that left any prior version behind surfaces as extra rows
    * here and breaks the oracle's row count.
    */
  def vacuumAudit(spark: SparkSession, dir: String): DataFrame = {
    val (_, root) = erasedRegistryLedger(spark, dir)
    vacuum(spark, root, keepLast = 1)
    Provenance.committedVersions(spark, root)
      .map { case (v, _, path) =>
        spark.read.parquet(path)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(when(erasedPred, 1L).otherwise(0L)), lit(0L))
              .as("n_erased_readable"))
          .select(lit(v).as("version"), col("n_rows"),
            col("n_erased_readable"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("version"))
  }

  /** q482: canonical re-election after a takedown — the dedup
    * follow-up the erasure families stop short of. Retention keeps
    * ONE representative per dup cluster (q148's policy, with the
    * q66 cluster labels = min member id); erasing that
    * representative (the %37 request) would otherwise silently drop
    * the whole cluster from the corpus. This work list names every
    * cluster whose canonical is erased but which still has
    * survivors, and elects the new canonical deterministically (min
    * surviving id — the same rule that chose the old one, so
    * re-running after the NEXT takedown needs no special case).
    *
    * 100 TB shape: one aggregate over the already-computed cluster
    * labels (the dup-edge artifact's CC), grouped at cluster grain —
    * no re-banding, no text.
    */
  def canonicalReelection(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupClusters(spark, dir)
      .groupBy(col("cluster"))
      .agg(max(col("n_members")).as("n_members"),
        coalesce(sum(when(col("doc_id") % ErasureMod =!= 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_surviving"),
        min(when(col("doc_id") % ErasureMod =!= 0, col("doc_id")))
          .as("new_canonical"))
      .filter(col("cluster") % ErasureMod === 0 &&
        col("n_surviving") > 0L)
      .select(col("cluster").as("old_canonical"),
        col("new_canonical"), col("n_members"), col("n_surviving"))
      .orderBy(col("old_canonical"))

  /** Retire rows from a versioned ledger by PREDICATE (retention
    * policies, q407): the current version filtered to `keep` becomes
    * the next version under the same source batch id. Idempotent by
    * construction (filtering twice is filtering once); no tombstones —
    * the policy is the predicate, and a pipeline applying one also
    * applies it to new folds.
    */
  private[streaming] def retire(spark: SparkSession, ledgerRoot: String,
      keep: org.apache.spark.sql.Column): Unit = {
    val (v, b, path) = Provenance.committedVersions(spark, ledgerRoot)
      .lastOption.getOrElse(sys.error(
        s"retention against an empty ledger: no committed version " +
          s"under $ledgerRoot"))
    spark.read.parquet(path).filter(keep)
      .write.mode("overwrite").parquet(s"$ledgerRoot/b${v + 1}_$b")
  }

  // ---------------------------------------------------------------
  // the probe ledger every executor-side query drives
  // ---------------------------------------------------------------

  private def dirKey(dir: String): String = LedgerArtifacts.dirKey(dir)

  private def docsFingerprint(spark: SparkSession,
      dir: String): (Long, Long) = {
    // the registry drain folds (doc_id, source, n_chars) — fingerprint
    // all three, so a sources-only corpus change rebuilds the state
    // (r18 verdict #4)
    val cols = Seq("doc_id", "source", "n_chars")
    LedgerArtifacts.fingerprint(
      Tables.documents(spark, dir).select(cols.map(col): _*), cols)
  }

  /** Registry-grain probe: a (doc_id, source, n_chars) state table
    * maintained over the deterministic 3-batch id-range split, then
    * the erasure request executed against it — built ONCE per
    * (corpus, mod) as a shared [[LedgerArtifacts]] artifact. This
    * variant returns the IMMUTABLE shared root: for the manifest /
    * feed / certificate consumers, which only read.
    */
  private[streaming] def erasedRegistryLedgerShared(spark: SparkSession,
      dir: String, mod: Int = ErasureMod): (DataFrame, String) = {
    val root = LedgerArtifacts.shared(spark,
      s"registry_erased_v2_${mod}_${dirKey(dir)}",
      docsFingerprint(spark, dir))(buildErasedRegistry(spark, dir, mod))
    val (_, _, path) = Provenance.committedVersions(spark, root).last
    (spark.read.parquet(path), root)
  }

  /** A PRIVATE copy of the erased registry ledger — for consumers
    * that go on to MUTATE the trail (the vacuum family q428–q429).
    */
  private[streaming] def erasedRegistryLedger(spark: SparkSession,
      dir: String, mod: Int = ErasureMod): (DataFrame, String) = {
    val root = LedgerArtifacts.privateCopy(spark,
      s"registry_erased_v2_${mod}_${dirKey(dir)}",
      docsFingerprint(spark, dir))(buildErasedRegistry(spark, dir, mod))
    val (_, _, path) = Provenance.committedVersions(spark, root).last
    (spark.read.parquet(path), root)
  }

  /** Artifact build for the erased registry: copy the shared drained
    * ledger (never re-drain) and execute the request on the copy.
    */
  private def buildErasedRegistry(spark: SparkSession, dir: String,
      mod: Int)(stagingRoot: String): Unit = {
    val drained = registryLedgerShared(spark, dir)
    LedgerArtifacts.copyLedger(spark, drained, s"$stagingRoot/state")
    erase(spark, s"$stagingRoot/state",
      Tables.documents(spark, dir).filter(col("doc_id") % mod === 0)
        .select(col("doc_id")))
  }

  /** The drained (pre-erasure) registry ledger as the shared
    * IMMUTABLE artifact — for read-only consumers (integrity
    * manifests, hash chains, the shallow-clone rehearsal's source).
    */
  private[graft] def registryLedgerShared(spark: SparkSession,
      dir: String): String =
    LedgerArtifacts.shared(spark, s"registry_drained_v2_${dirKey(dir)}",
      docsFingerprint(spark, dir))(drainRegistry(spark, dir))

  /** A PRIVATE mutable copy of the drained registry ledger — for
    * consumers that rewrite or tamper the trail (IntegritySpec's
    * tamper fixture).
    */
  private[graft] def registryLedgerDrained(spark: SparkSession,
      dir: String): String =
    LedgerArtifacts.privateCopy(spark,
      s"registry_drained_v2_${dirKey(dir)}",
      docsFingerprint(spark, dir))(drainRegistry(spark, dir))

  /** The 3-batch drain into a caller-provided scratch root (the
    * [[LedgerArtifacts]] build contract: populate `<root>/state`).
    */
  private def drainRegistry(spark: SparkSession, dir: String)(
      root: String): Unit = {
    val streamDir = StreamingOps.idRangeSplitSource(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")), 3)
    val ledgerRoot = s"$root/state"
    val ledger =
      new StreamingOps.VersionedLedger(spark, ledgerRoot, Some(root))
    StreamingOps.drain(StreamingOps.streamDocuments(spark, streamDir,
        "*.parquet", Some(1)), Some(root)) { (batch, id) =>
      val ss = batch.sparkSession
      if (!ledger.isReplayed(id)) {
        val rows = applyTombstones(ss, ledgerRoot,
          batch.select(col("doc_id"), col("source"), col("n_chars")))
        val merged =
          if (ledger.isEmpty) rows
          else ss.read.parquet(ledger.path).unionByName(rows)
        // an append fold's change set IS the folded batch (all
        // inserts — id ranges are disjoint); committed atomically
        // with the version so the CDF reads metadata (q452/q486)
        ledger.writeWithChangeset(merged, id,
          rows.withColumn("change_type", lit("insert"))
            .select(col("change_type"), col("doc_id"), col("source"),
              col("n_chars")))
      }
    }
    ()
  }

  // ---------------------------------------------------------------
  // the query surface
  // ---------------------------------------------------------------

  /** Erasure plan (q386): what a takedown of the erased doc set
    * touches, per surface — documents (rows to delete, sources
    * touched), embeddings (vectors to delete, labels touched; vec_id
    * is the corpus doc key, the q239 convention), and the dup-edge
    * artifact (edges incident to an erased doc, plus the RETAINED
    * partner docs whose dup neighborhood changes — the blast radius a
    * reviewer signs off on before the executor runs). Reads the
    * shared artifact; never re-bands.
    */
  def erasurePlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(erasedPred)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("source")).as("n_keys"))
      .select(lit("documents").as("surface"), col("n_rows"),
        col("n_keys"))
    val embs = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % ErasureMod === 0)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("label")).as("n_keys"))
      .select(lit("embeddings").as("surface"), col("n_rows"),
        col("n_keys"))
    val e = graft.operators.Dedup.dupEdges(spark, dir)
    val incident = e.filter(col("id_a") % ErasureMod === 0 ||
      col("id_b") % ErasureMod === 0)
    val partners = incident
      .select(when(col("id_a") % ErasureMod === 0, col("id_b"))
        .otherwise(col("id_a")).as("d"))
      .filter(col("d") % ErasureMod =!= 0)
    val edges = incident.agg(count(lit(1)).as("n_rows"))
      .crossJoin(partners.agg(countDistinct(col("d")).as("n_keys")))
      .select(lit("dup_edges").as("surface"), col("n_rows"),
        col("n_keys"))
    docs.unionByName(embs).unionByName(edges).orderBy(col("surface"))
  }

  /** Erasure executor (q387): the registry ledger after the request —
    * per source, surviving docs and chars. The erased keys are GONE
    * from the latest committed version (old versions retired, not
    * edited), which is what the oracle pins: the post-erasure state
    * equals the raw table minus the request.
    */
  def erasureExecute(spark: SparkSession, dir: String): DataFrame = {
    val (state, _) = erasedRegistryLedger(spark, dir)
    state.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source"))
  }

  /** Erasure ledger manifest (q388): the version trail the request
    * leaves — versions 0..2 are the three micro-batches' cumulative
    * prefixes; version 3 is the rewrite, carrying the SAME batch id
    * as the version it retired and fewer rows. The audit row a
    * regulator asks for: when was the request executed, against which
    * stream position, and how many rows left the state.
    */
  def erasureManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, root) = erasedRegistryLedger(spark, dir)
    Provenance.committedVersions(spark, root)
      .map { case (v, b, path) =>
        (v, b, spark.read.parquet(path).count())
      }
      .toDF("version", "batch_id", "n_rows")
      .orderBy(col("version"))
  }

  /** Post-erasure conservation audit (q389): per source, full-outer
    * across the three populations — post-erasure state, retained raw,
    * erased raw — with the two facts that certify the executor:
    * state == retained (nothing else lost) and state ∩ erased == ∅
    * (checked as counts; the q359 shape extended with the erased
    * column). A source whose every doc was erased still surfaces via
    * the full-outer join.
    */
  def erasureConservation(spark: SparkSession, dir: String): DataFrame = {
    val (state, _) = erasedRegistryLedger(spark, dir)
    val st = state.groupBy(col("source"))
      .agg(count(lit(1)).as("n_state"))
    val raw = Tables.documents(spark, dir).groupBy(col("source"))
      .agg(sum(when(erasedPred, 0L).otherwise(1L)).as("n_retained"),
        sum(when(erasedPred, 1L).otherwise(0L)).as("n_erased"))
    st.join(raw, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("n_state"), lit(0L)).as("n_state"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_erased"), lit(0L)).as("n_erased"),
        (coalesce(col("n_state"), lit(0L)) ===
          coalesce(col("n_retained"), lit(0L))).as("conserved"))
      .orderBy(col("source"))
  }

  /** Dup-edge artifact invalidation (q390): erased docs vanish from
    * the corpus → the artifact fingerprint misses → the edge relation
    * rebuilds over the retained corpus. The rebuilt set obeys a
    * conservation identity — removing docs removes exactly the
    * edges incident to them (banding signatures are per-doc, so
    * retained-pair candidacy and verification are unchanged) — and
    * the query emits both sides of it plus the zero that matters:
    * no surviving edge touches an erased doc.
    *
    * Scope of the identity: it is exact only while no band bucket
    * crosses the [[graft.operators.Dedup.BandBucketCap]] quarantine
    * boundary — erasing members of an over-cap bucket can drop it to
    * ≤ cap, ADDING retained-pair edges that the capped full-corpus
    * chain had quarantined, so `conserved` can legitimately read
    * false at production scale (cross-engine parity is unaffected:
    * the oracle recomputes both chains under the same cap). The
    * incremental maintenance path
    * ([[graft.operators.Dedup.dupEdgesErasedIncremental]]) handles
    * exactly that boundary case by re-pairing the shrunk buckets.
    */
  def artifactRebuild(spark: SparkSession, dir: String): DataFrame = {
    val before = graft.operators.Dedup.dupEdges(spark, dir)
      // barrier: two counts off one artifact read
      .persist()
    graft.Caches.onRelease(() =>
      try before.unpersist(false) catch { case _: Throwable => () })
    val after = graft.operators.Dedup.dupEdgesErased(spark, dir,
      ErasureMod)
    val incident = col("id_a") % ErasureMod === 0 ||
      col("id_b") % ErasureMod === 0
    before.agg(count(lit(1)).as("n_edges_before"),
        coalesce(sum(when(incident, 1L).otherwise(0L)), lit(0L))
          .as("n_incident_before"))
      .crossJoin(after.agg(count(lit(1)).as("n_edges_after"),
        coalesce(sum(when(incident, 1L).otherwise(0L)), lit(0L))
          .as("n_incident_after")))
      .select(col("n_edges_before"), col("n_incident_before"),
        col("n_edges_after"), col("n_incident_after"),
        (col("n_edges_after") ===
          col("n_edges_before") - col("n_incident_before"))
          .as("conserved"))
  }
}
