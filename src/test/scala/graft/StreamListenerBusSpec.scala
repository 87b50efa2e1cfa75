// In the org.apache.spark tree for the SparkContext's listener bus,
// which is private[spark].
package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

import graft.{Caches, Registry, SparkSpec}

/** A drain leaves no streaming-listener bus behind: not its child
  * session's, and not that of the per-query session its stream ran on.
  */
class StreamListenerBusSpec extends SparkSpec {

  private def buses: Int = spark.sparkContext.listenerBus
    .findListenersByClass[StreamingQueryListenerBus]().size

  test("10 q36 runs leave the streaming-listener bus count unchanged") {
    val q36 = Registry.queries("q36_streaming_window")
    // the shared session's own bus exists once any stream has started
    spark.streams
    val before = buses
    val first = q36(spark, sfDir).collect().toSeq
    Caches.releaseAll(spark)
    (2 to 10).foreach { _ =>
      assert(q36(spark, sfDir).collect().toSeq == first)
      Caches.releaseAll(spark)
    }
    assert(buses == before, s"$before buses before 10 drains, $buses after")
  }
}
