// Hosted in the org.apache.spark.sql tree solely for private[sql]
// access to the StateStore coordinator object — same rationale as
// VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Streaming state-store teardown for long-lived batch+streaming
  * sessions.
  *
  * Every stateful streaming query leaves its per-partition
  * `StateStoreProvider`s loaded after termination so a restarted query
  * can reuse them — HDFS-backed providers pin deserialized state maps
  * on-heap, RocksDB providers pin native memory and block-cache pages
  * OFF-heap, and a maintenance thread keeps running. A session that
  * runs 7+ one-shot streaming queries (each with a fresh temp
  * checkpoint, so the providers can never be reused) accumulates all
  * of it for the life of the JVM.
  *
  * `StateStore.stop()` unloads every provider and stops the
  * maintenance task; it is re-entrant by design — the next streaming
  * query lazily restarts maintenance and reloads what it needs.
  */
object SessionHygiene {
  def unloadStateStores(): Unit =
    try StateStore.stop() catch { case _: Throwable => () }
}

/** Child sessions for query code that needs its own confs.
  *
  * A conf set on the live session is seen by every query planned on it
  * meanwhile, from any thread, and a save/restore bracket cannot undo
  * that. A `cloneSession()` child starts from a copy of the parent's
  * conf, functions, optimizer rules and planner strategies (a
  * `newSession()` carries none of the runtime-registered ones), so
  * confs set on it change how its own plans run and nothing else.
  */
object ChildSessions {
  import org.apache.spark.scheduler.SparkListenerInterface
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.classic.ClassicConversions.castToImpl
  import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
  import org.apache.spark.sql.streaming.StreamingQuery

  /** A child of `spark` carrying `confs` on top of the parent's conf.
    * The parent's streaming listeners are registered on the child too,
    * so a stream started there reports to them. The child is released
    * ([[release]]) with the query's other residue at the next
    * `graft.Caches.releaseAll`.
    */
  def withConfs(spark: SparkSession,
      confs: Iterable[(String, String)]): SparkSession = {
    val child = castToImpl(spark).cloneSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    val listeners = spark.streams.listListeners()
    if (listeners.nonEmpty) listeners.foreach(child.streams.addListener)
    _root_.graft.Caches.onRelease(() => release(child))
    child
  }

  /** `df`'s analyzed plan as a DataFrame of `session`: planned and run
    * with that session's conf, and for a stream, started from it.
    */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(castToImpl(session),
      castToImpl(df).logicalPlan)

  /** Detach `session`'s streaming-listener bus from the SparkContext's
    * listener bus. A session's stream manager registers that bus when
    * it is built and never removes it, so a session per drain (a child
    * here, and the per-query session every started stream runs its
    * batches on) would leave one behind per drain. Call it once the
    * session's streams are done. The manager keeps the bus in a private
    * field; if that cannot be reached the bus stays, and nothing fails.
    */
  private def release(session: SparkSession): Unit =
    try {
      val streams = castToImpl(session).streams
      val f = streams.getClass.getDeclaredField("listenerBus")
      f.setAccessible(true)
      session.sparkContext.removeSparkListener(
        f.get(streams).asInstanceOf[SparkListenerInterface])
    } catch { case _: Exception => () }

  /** [[release]] the session a finished stream ran its batches on. */
  def releaseStream(q: StreamingQuery): Unit =
    release(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .sparkSessionForStream)
}
