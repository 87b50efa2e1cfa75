package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

import graft.streaming.StreamingOps

/** Drains that need their own confs run them on a child session: drains
  * and a batch query running concurrently on the shared session each
  * get the answer they get alone, the state operator runs at the
  * drain's width, and the session conf is never written — not even for
  * the length of a drain, where a concurrently planned query would see
  * it.
  */
class DrainIsolationSpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("concurrent drains match their serial runs and leave the " +
      "session conf unwritten") {
    val q36 = Registry.queries("q36_streaming_window")
    val q37 = Registry.queries("q37_stateful_totals")
    val batchQ = () => sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))
    val serial36 = rows(q36(spark, sfDir))
    val serial37 = rows(q37(spark, sfDir))
    val serialBatch = rows(batchQ())
    Caches.releaseAll(spark)
    val sessionWidth = spark.conf.get(Width)
    val before = spark.conf.getAll

    // the helper's own drain, at a width the session does not have
    val drainWidth = (sessionWidth.toInt - 1).max(1).toString
    val stateWidths = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o =>
          stateWidths.add(o.numShufflePartitions))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val widthsSeenInBatch = new ConcurrentLinkedQueue[(String, String)]()
    val helperDrain = () => {
      val out = new ConcurrentLinkedQueue[String]()
      StreamingOps.drain(StreamingOps.streamEvents(spark, sfDir)
          .groupBy(col("event_type")).count(),
        None, OutputMode.Update(), Map(Width -> drainWidth)) { (b, _) =>
        widthsSeenInBatch.add(
          (spark.conf.get(Width), b.sparkSession.conf.get(Width)))
        b.collect().foreach(r => out.add(r.toString))
      }
      out.asScala.toSeq.sorted
    }
    val serialHelper = sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type")).count()
      .collect().map(_.toString).toSeq.sorted

    // a watcher samples the live session conf while the drains run
    @volatile var running = true
    val written = new ConcurrentLinkedQueue[String]()
    val watcher = new Thread(() => {
      while (running) {
        val w = spark.conf.get(Width)
        val nd = spark.conf.get(NoData, "true")
        if (w != sessionWidth) written.add(s"$Width=$w")
        if (nd != "true") written.add(s"$NoData=$nd")
        Thread.sleep(1)
      }
    })
    val pool = Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      watcher.start()
      val drains = Future.sequence(Seq(
        Future(rows(q36(spark, sfDir))), Future(rows(q37(spark, sfDir))),
        Future(rows(q36(spark, sfDir))), Future(rows(q37(spark, sfDir))),
        Future(helperDrain())))
      val batchRuns = (1 to 3).map(_ => rows(batchQ()))
      val Seq(a36, a37, b36, b37, helper) = Await.result(drains, 10.minutes)
      running = false
      watcher.join()

      assert(a36 == serial36 && b36 == serial36, "q36 differs when concurrent")
      assert(a37 == serial37 && b37 == serial37, "q37 differs when concurrent")
      assert(batchRuns.forall(_ == serialBatch),
        "the batch query differs beside the drains")
      assert(helper == serialHelper, "the helper drain differs from batch")
      assert(written.isEmpty,
        s"the live session conf was written during the drains: " +
          written.asScala.toSeq.distinct.mkString(", "))
      assert(spark.conf.getAll == before,
        "the session conf differs after the drains")
      // micro-batches run on the drain's child session; the session
      // itself keeps its width
      assert(widthsSeenInBatch.asScala.nonEmpty &&
        widthsSeenInBatch.asScala.forall(_ == (sessionWidth, drainWidth)),
        s"(session, batch) widths: ${widthsSeenInBatch.asScala.toSeq}")
      // the listener bus is asynchronous: wait for the helper's progress
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!stateWidths.contains(drainWidth.toLong) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(stateWidths.contains(drainWidth.toLong),
        s"no state operator at the drain's width $drainWidth: " +
          stateWidths.asScala.toSeq.distinct)
      assert(spark.conf.get(Width) == sessionWidth)
    } finally {
      running = false
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      spark.streams.removeListener(listener)
      Caches.releaseAll(spark)
    }
  }
}
