package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Using

import org.apache.spark.sql.SparkSession

/** Cache-lifetime contract for the registered queries.
  *
  * A few operators `persist()` small intermediates as materialization
  * barriers (shingle tables, normalized vectors — see
  * `operators/Dedup.scala`, `operators/Similarity.scala`): without the
  * barrier, Catalyst's project-collapse re-inlines the expensive
  * expression into every branch of a self-join. Those caches are
  * deliberately NOT unpersisted inside the query — the returned
  * DataFrame is lazy, and dropping the cache before the caller consumes
  * it would defeat the barrier (identical logical plans also share one
  * cache entry across queries, which the harness exploits).
  *
  * The contract is therefore: consume the result, then call
  * [[releaseAll]]. `Verify` and `Bench` do this between queries; any
  * long-lived session embedding the library should do the same.
  *
  * [[releaseAll]] reclaims FOUR kinds of session residue, not just the
  * SQL cache — found the hard way when a 92-query bench session slowed
  * 4–17× on queries that run in ~1 s isolated:
  *
  *  1. SQL-cached plans (`catalog.clearCache()`).
  *  2. Raw RDD persists — `localCheckpoint(true)` lineage barriers
  *     (e.g. the connected-components rounds) register in the
  *     SparkContext, NOT the SQL CacheManager, so `clearCache()` never
  *     frees their blocks. Left alone they squat in the unified memory
  *     pool until a driver GC happens to let ContextCleaner notice —
  *     nondeterministically starving later queries' execution memory.
  *  3. Streaming state-store providers (HDFS-backed maps, RocksDB
  *     native memory) held per-partition for possible query restarts —
  *     released via a registered hook (see [[onRelease]]).
  *  4. Spooled temp directories (streaming delta sinks, HTTP page
  *     spools) — registered via [[trackTempDir]], deleted here after
  *     the result that reads them has been consumed.
  */
object Caches {
  private val tempDirs = new ConcurrentLinkedQueue[Path]()
  private val hooks = new ConcurrentLinkedQueue[() => Unit]()

  /** Register a temp directory for deletion at the next [[releaseAll]].
    * Returns the path for call-site chaining.
    */
  def trackTempDir(p: Path): Path = { tempDirs.add(p); p }

  /** Register a one-shot cleanup hook, run (and dropped) at the next
    * [[releaseAll]]. Failures are swallowed: hygiene must never fail a
    * query.
    */
  def onRelease(f: () => Unit): Unit = hooks.add(f)

  /** Drop every cached plan, raw RDD persist, registered hook, and
    * tracked temp directory created by registered queries (blocking),
    * returning executor storage to zero and the temp dir to baseline.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(r => try r.unpersist(blocking = true)
        catch { case _: Throwable => () })
    while (!hooks.isEmpty) {
      val f = hooks.poll()
      if (f != null) try f() catch { case _: Throwable => () }
    }
    while (!tempDirs.isEmpty) {
      val p = tempDirs.poll()
      if (p != null) try deleteRecursively(p)
      catch { case _: Throwable => () }
    }
  }

  /** Recursive delete, for callers that own a directory's lifetime. */
  private[graft] def deleteTree(p: Path): Unit = deleteRecursively(p)

  private val exitDirs = new ConcurrentLinkedQueue[Path]()
  private lazy val exitHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.forEach(p =>
        try deleteRecursively(p) catch { case _: Throwable => () })))
    ()
  }

  /** A fresh temp directory, deleted with its contents at JVM exit.
    * One hook serves every such directory, and a failure on one does
    * not stop the others from going.
    */
  private[graft] def tempDirDeletedAtExit(prefix: String): Path = {
    exitHook
    val p = Files.createTempDirectory(prefix)
    exitDirs.add(p)
    p
  }

  /** Children before parents; a file that will not go is skipped, and
    * a root that survives the walk is reported once.
    */
  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val all = Using.resource(Files.walk(p))(_.iterator().asScala.toVector)
      all.reverseIterator.foreach(f =>
        try Files.deleteIfExists(f) catch { case _: Throwable => () })
      if (Files.exists(p))
        System.err.println(s"WARN: temp directory $p was not fully deleted")
    }
  }
}
