package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once cache for the probe LEDGERS the lifecycle queries drive
  * (r15 verdict #6 / "What's wrong" #2): before this, every query in
  * the erasure/CDF/integrity/clone families re-ran the same 3-batch
  * streaming drain — q430 alone re-executed six of them, costing
  * 16–20 s to CERTIFY states its sibling queries had already built.
  * A production pipeline builds a state table once per corpus
  * snapshot and lets every report read the committed artifact; this
  * object is that discipline for the probe ledgers, identical to the
  * dup-edge artifact contract (`operators/Dedup.scala` `dupEdgesAt`):
  *
  *  - JVM-lifetime root (`SPARK_GRAFT_ARTIFACT_ROOT` or a temp dir
  *    removed at exit) — deliberately NOT `Caches.trackTempDir`, so
  *    the artifact survives the between-queries `releaseAll`;
  *  - freshness = an order-independent fingerprint of the source
  *    corpus (row count + bit_xor of xxhash64 over the key columns),
  *    checked with one narrow scan per call; any corpus change
  *    rebuilds;
  *  - commit protocol: build into a staging dir, rename into place,
  *    THEN write the meta fingerprint — meta is the commit marker, so
  *    a crash in any window leaves a missing/mismatched meta and the
  *    next caller rebuilds (single-writer per JVM, enforced with a
  *    coarse lock — the same contract the streaming state roots carry).
  *
  * Two access modes:
  *  - [[shared]] returns the IMMUTABLE committed ledger root —
  *    read-only consumers (manifests, feeds, certificates, clones)
  *    point straight at it;
  *  - [[privateCopy]] clones the committed state into a fresh tracked
  *    temp dir for consumers that MUTATE the ledger (vacuum, tamper
  *    specs): a file copy of ≤ #versions state-grain dirs, still far
  *    cheaper than re-running the drain, and isolation is preserved —
  *    a vacuumed or tampered copy can never corrupt the shared build.
  *
  * 100 TB shape: the artifact IS the production state table; "shared"
  * is just reading it. The fixture-only piece is privateCopy, whose
  * production analogue is a shallow clone (q474) — cheap because
  * state is ≤ #keys rows, never the corpus.
  */
object LedgerArtifacts {

  /** JVM-lifetime artifact root (the `Dedup.artifactRoot` contract).
    * Exposed within the library so non-ledger artifacts (the join
    * planner's stored edge stats) share the same root and lifetime.
    */
  private[graft] lazy val artifactRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_ROOT",
      graft.Caches.tempDirDeletedAtExit("graft_ledger_artifact_").toString)

  /** Stable artifact-key suffix for a fixture dir. */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Order-independent corpus fingerprint over `keyCols` — one narrow
    * scan, never wide columns — MEMOIZED per JVM session: the content
    * hash is keyed by the frame's canonicalized plan plus the
    * (path, mtime, length) of every backing file, so the hundreds of
    * freshness probes a query session issues against an unchanged
    * corpus cost a file stat instead of a scan, while any rewrite of
    * a backing file (new mtime/length) — or a semantically different
    * frame — recomputes. Frames with no file lineage (in-memory,
    * sources that hide their files) are never memoized.
    */
  private val fpMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private[graft] def fingerprint(df: DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    def compute: (Long, Long) = {
      val fp = df.agg(count(lit(1)).cast("long").as("n"),
        coalesce(bit_xor(xxhash64(keyCols.map(col): _*)), lit(0L))
          .as("h")).collect()(0)
      (fp.getLong(0), fp.getLong(1))
    }
    val files = df.inputFiles.sorted
    if (files.isEmpty) compute
    else {
      import org.apache.hadoop.fs.Path
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val tokens = files.map { f =>
        try {
          val p = new Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getModificationTime}:${st.getLen}"
        } catch { case _: Throwable => return compute }
      }
      val planKey = java.security.MessageDigest.getInstance("MD5")
        .digest((df.queryExecution.analyzed.canonicalized.toString +
          "|" + keyCols.mkString(",") + "|" + tokens.mkString("|"))
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      // Memo soundness rests on (path, mtime, length) changing when
      // content does. An IN-PLACE rewrite that preserves length within
      // the filesystem's mtime granularity would serve a stale
      // fingerprint for the rest of this JVM — acceptable because
      // corpus inputs here are immutable parquet (writers stage new
      // files and rename; nothing rewrites a data file in place, per
      // the BuildArtifacts single-writer contract). A deployment with
      // mutable inputs should fold a content token (e.g. a first-block
      // checksum) into the per-file token above.
      fpMemo.getOrElseUpdate(planKey, compute)
    }
  }

  private def metaPath(dest: String) = s"$dest/_artifact_meta"

  /** Once an artifact at `dest` verified fresh for fingerprint `fp`
    * in this JVM, later probes skip the meta read: under the
    * single-writer contract ([[graft.BuildArtifacts]]) the only
    * process that could have replaced it since is this one, and a
    * corpus change flips `fp`, missing the memo.
    */
  private val freshMemo =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Committed-and-current: meta present (the commit marker), the
    * ledger has at least one committed version, fingerprint matches.
    */
  private def fresh(spark: SparkSession, dest: String,
      fp: (Long, Long)): Boolean =
    freshMemo.contains(s"$dest|${fp._1}|${fp._2}") || {
      import org.apache.hadoop.fs.Path
      val fs = new Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ok = fs.exists(new Path(s"${metaPath(dest)}/_SUCCESS")) && {
        val m = spark.read.parquet(metaPath(dest)).collect()
        m.length == 1 && m(0).getLong(0) == fp._1 &&
          m(0).getLong(1) == fp._2 &&
          Provenance.committedVersions(spark, s"$dest/state").nonEmpty
      }
      if (ok) freshMemo.put(s"$dest|${fp._1}|${fp._2}", true)
      ok
    }

  /** The shared immutable ledger: build once per (name, fingerprint),
    * return the committed LEDGER root (`<dest>/state`; tombstones, if
    * the build wrote any, sit at the standard `state_tombstones`
    * sibling inside dest). `build` receives a scratch root and must
    * populate `<root>/state` (checkpoints etc. may live anywhere under
    * the root — they ride along, unread).
    */
  def shared(spark: SparkSession, name: String, fp: (Long, Long))(
      build: String => Unit): String = synchronized {
    import org.apache.hadoop.fs.Path
    val dest = s"$artifactRoot/$name"
    if (!fresh(spark, dest, fp)) {
      val fs = new Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = s"$artifactRoot/${name}_build_staging"
      fs.delete(new Path(staging), true)
      val t0 = System.nanoTime()
      // build FULLY into staging before touching dest: the old
      // committed artifact stays readable (a consistent stale read,
      // never a half-deleted one) for the whole build; the
      // unreadable window is the delete+rename swap below. Writers
      // across PROCESSES are serialized by contract, not by this
      // lock — see BuildArtifacts' single-writer requirement.
      build(staging)
      if (Provenance.committedVersions(spark, s"$staging/state").isEmpty)
        sys.error(s"ledger artifact build for $name committed no " +
          s"version under $staging/state")
      fs.delete(new Path(dest), true)
      if (!fs.rename(new Path(staging), new Path(dest)))
        sys.error(s"ledger artifact commit failed: " +
          s"rename($staging -> $dest)")
      // meta LAST: the commit marker
      import spark.implicits._
      Seq((fp._1, fp._2)).toDF("n", "h")
        .coalesce(1).write.mode("overwrite").parquet(metaPath(dest))
      graft.ArtifactLog.record(s"ledger:$name",
        (System.nanoTime() - t0) / 1e9)
    }
    s"$dest/state"
  }

  /** Combined fingerprint over several (name, frame, keyCols) inputs
    * — for artifacts derived from more than one table.
    */
  private[graft] def tableFingerprint(
      parts: Seq[(String, DataFrame, Seq[String])]): String = {
    val body = parts.map { case (n, df, cols) =>
      val (c, h) = fingerprint(df.select(cols.map(col): _*), cols)
      s"$n:$c:$h"
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Build-once stored TABLE artifact (the non-ledger variant of
    * [[shared]]): a derived VIEW a deployment materializes once per
    * corpus snapshot — read when fresh, rebuilt and committed (table
    * first, meta marker last) when the fingerprint flipped. Readers
    * must re-apply their ORDER BY (parquet keeps content, not order).
    */
  private[graft] def sharedTable(spark: SparkSession, name: String,
      fp: String)(build: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = s"$artifactRoot/$name"
    def isFresh: Boolean = freshMemo.contains(s"$path|$fp") || {
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ok = fs.exists(new Path(s"$path/meta/_SUCCESS")) &&
        fs.exists(new Path(s"$path/table/_SUCCESS")) && {
          val m = spark.read.parquet(s"$path/meta").collect()
          m.length == 1 && m(0).getString(0) == fp
        }
      if (ok) freshMemo.put(s"$path|$fp", true)
      ok
    }
    if (!isFresh) synchronized {
      if (!isFresh) {
        val t0 = System.nanoTime()
        val fs = new Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(s"$path/meta"), true)
        build.write.mode("overwrite").parquet(s"$path/table")
        import spark.implicits._
        Seq(fp).toDF("fingerprint").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/meta")
        graft.ArtifactLog.record(s"view:$name",
          (System.nanoTime() - t0) / 1e9)
      }
    }
    spark.read.parquet(s"$path/table")
  }

  /** Copy a committed ledger (state dir + its `_tombstones` sibling)
    * to a new location — the physical-clone primitive behind
    * [[privateCopy]] and the erased-artifact build.
    */
  private[streaming] def copyLedger(spark: SparkSession,
      fromState: String, toState: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(fromState).getFileSystem(conf)
    if (!FileUtil.copy(fs, new Path(fromState), fs, new Path(toState),
        false, conf))
      sys.error(s"ledger copy failed: $fromState -> $toState")
    val tomb = new Path(s"${fromState}_tombstones")
    if (fs.exists(tomb) &&
        !FileUtil.copy(fs, tomb, fs, new Path(s"${toState}_tombstones"),
          false, conf))
      sys.error(s"tombstone copy failed: $fromState -> $toState")
  }

  /** A PRIVATE mutable copy of the shared artifact's committed state
    * (and its tombstone sibling), in a fresh tracked temp dir —
    * for consumers that rewrite, vacuum, or tamper.
    */
  def privateCopy(spark: SparkSession, name: String, fp: (Long, Long))(
      build: String => Unit): String = {
    val sharedState = shared(spark, name, fp)(build)
    val tmp = graft.Caches.trackTempDir(
      Files.createTempDirectory(s"graft_${name}_copy_")).toString
    val copyState = s"$tmp/state"
    copyLedger(spark, sharedState, copyState)
    copyState
  }
}
