// Lives under org.apache.spark.sql so it may read the listener bus and
// wait for it to drain (both private[spark]); it calls the program only
// through graft.Registry, graft.Caches and graft.ArtifactLog.
package org.apache.spark.sql.graftbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, single-client driver for one benchmark run.
  *
  * One JVM = one run: build the session, run warm-up passes over the
  * workload's queries (set-up), then timed passes until `--seconds` have
  * elapsed. Every query is constructed through `graft.Registry`, consumed
  * by a `noop` write whose output is digested by an `Observation`, and
  * followed by `graft.Caches.releaseAll`. Results go to `--out` as JSON
  * lines; `perfbench/run.py` turns them into metrics.
  *
  * With `--trace 1` the timed passes alternate: odd passes run with the
  * Spark, SQL and streaming listeners attached (per-layer counters),
  * even passes run without them, so one run also yields the tracing
  * overhead.
  */
object Harness {

  final case class Args(sf: String, names: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, out: String, warm: Int, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--sf"), m("--queries").split(',').toSeq.filter(_.nonEmpty),
      m("--seed").toLong, m("--seconds").toDouble, m("--trace") == "1",
      m("--out"), m.getOrElse("--warm", "1").toInt,
      m.getOrElse("--cpus", "4").toInt)
  }

  // ---------------------------------------------------------------- output
  private var sink: PrintWriter = _
  private def emit(fields: (String, Any)*): Unit = {
    sink.println(fields.map { case (k, v) => q(k) + ":" + js(v) }
      .mkString("{", ",", "}"))
    sink.flush()
  }
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case x => q(x.toString)
  }

  // ------------------------------------------------------------ digesting
  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _: MapType => true
    case _ => false
  }

  /** Floats become 9-significant-digit strings (NaN -> null, |x| below
    * 5e-10 -> "0"), so the digest ignores fold-order noise in the last
    * bits; maps become key-sorted entry arrays. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case _ if !needsNorm(dt) => c
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull || isnan(d), lit(null).cast(StringType))
        .when(abs(d) < 5e-10, lit("0"))
        .otherwise(format_string("%.8e", d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"),
        norm(e.getField("value"), vt).as("v"))))
  }

  /** Attach an order-insensitive digest of every output row: row count
    * plus the sums of the low and high 32-bit halves of each row's
    * xxhash64 over its normalized columns. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val fields = df.schema.fields.toIndexedSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      norm(renamed.col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  // --------------------------------------------------------------- tracing
  /** Counters keyed by layer metric name; the listener side only adds. */
  final class Counters {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = synchronized {
      m(k) = m.getOrElse(k, 0.0) + v }
    def max(k: String, v: Double): Unit = synchronized {
      m(k) = math.max(m.getOrElse(k, v), v) }
    def snapshot: Map[String, Double] = synchronized { m.toMap }
  }

  /** Which part of a query the harness thread is in. Read by the
    * listeners, which run after the bus is drained at every boundary. */
  @volatile private var phase = "setup"
  @volatile private var counters: Counters = new Counters

  private def mb(b: Long): Double = b / (1024.0 * 1024.0)

  final class ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.add(s"$phase.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.add(s"$phase.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters
      val p = phase
      c.add(s"$p.tasks", 1)
      val t = e.taskMetrics
      if (t != null) {
        c.add(s"$p.task_run_s", t.executorRunTime / 1e3)
        c.add(s"$p.task_cpu_s", t.executorCpuTime / 1e9)
        c.add(s"$p.task_gc_s", t.jvmGCTime / 1e3)
        c.add(s"$p.shuffle_write_mb", mb(t.shuffleWriteMetrics.bytesWritten))
        c.add(s"$p.shuffle_read_mb", mb(t.shuffleReadMetrics.totalBytesRead))
        c.add(s"$p.spill_mb", mb(t.diskBytesSpilled))
        c.add("sources.input_mb", mb(t.inputMetrics.bytesRead))
        c.add("sources.input_rows", t.inputMetrics.recordsRead.toDouble)
        c.add("sources.output_mb", mb(t.outputMetrics.bytesWritten))
        c.add("sources.output_rows", t.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  final class PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val c = counters
      c.add("plan.executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach(s => c.add(s"plan.${k}_s", s.durationMs / 1e3))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  final class StreamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      counters.add("streaming.queries", 1)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val c = counters
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      def s(ks: String*): Double = ks.map(d.getOrElse(_, 0L)).sum / 1e3
      c.add("streaming.batches", 1)
      c.add("streaming.add_batch_s", s("addBatch"))
      c.add("streaming.query_planning_s", s("queryPlanning"))
      c.add("streaming.offsets_s", s("latestOffset", "getBatch"))
      c.add("streaming.commit_s", s("walCommit", "commitOffsets"))
      p.stateOperators.foreach { o =>
        c.add("streaming.state_rows", o.numRowsUpdated.toDouble)
        c.add("streaming.state_commit_s", o.commitTimeMs / 1e3)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  // ---------------------------------------------------------- host/driver
  def load1: Double = try {
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
  } catch { case _: Throwable => -1.0 }

  /** Fixed single-thread arithmetic spin (same work as graft.Bench):
    * CPU contention or throttling stretches it in proportion. */
  def spinMs: Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 0L) println("")
    dt
  }

  /** (steal, total) CPU jiffies of the host so far, from /proc/stat:
    * steal is time the hypervisor ran someone else on our CPUs. */
  def cpuJiffies: (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Throwable => (0L, 0L) }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Heap in use after the latest GC: the live set, not the garbage a
    * pre-touched heap lets eden accumulate. */
  def liveHeapMb: Double = mb(ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)

  def vmHwmKb: Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  // ------------------------------------------------------------------ main
  def session(a: Args): SparkSession = {
    // the configuration graft.Bench and graft.Verify build their
    // sessions with, at one shuffle partition per core
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    sink = new PrintWriter(new OutputStreamWriter(
      new FileOutputStream(a.out), StandardCharsets.UTF_8))
    val registry = graft.Registry.queries
    val resolved = a.names.map { p =>
      val hits = registry.keys.filter(k => k == p || k.startsWith(p + "_"))
        .toSeq.sorted
      p -> hits
    }
    emit("kind" -> "resolve", "names" -> resolved.map { case (p, h) =>
      Map("prefix" -> p, "matches" -> h) })
    val bad = resolved.filter(_._2.size != 1)
    if (bad.nonEmpty) {
      System.err.println(s"unresolved or ambiguous names: ${bad.map(_._1)}")
      sink.close(); sys.exit(2)
    }
    val names = resolved.map(_._2.head)

    val spark = session(a)
    val sc = spark.sparkContext
    val execL = new ExecListener
    val planL = new PlanListener
    val streamL = new StreamListener
    def attach(): Unit = {
      sc.addSparkListener(execL)
      spark.listenerManager.register(planL)
      spark.streams.addListener(streamL)
    }
    def detach(): Unit = {
      sc.removeSparkListener(execL)
      spark.listenerManager.unregister(planL)
      spark.streams.removeListener(streamL)
    }
    def drainBus(): Unit = sc.listenerBus.waitUntilEmpty()

    def order(pass: Int): Seq[String] =
      new scala.util.Random(a.seed * 1000003L + pass).shuffle(names)

    /** Run, digest and release one query; emit its sample. */
    def runQuery(pass: Int, name: String, traced: Boolean): Unit = {
      val fn = registry(name)
      var err: Option[String] = None
      var digest: Map[String, Any] = Map.empty
      var schema = ""
      var tc, ta = 0.0
      if (traced) { drainBus(); phase = "construct" }
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, a.sf)
        tc = (System.nanoTime() - t0) / 1e9
        schema = df.schema.catalogString
        if (traced) { drainBus(); phase = "exec" }
        val obs = Observation("digest")
        val t1 = System.nanoTime()
        observed(df, obs).write.format("noop").mode("overwrite").save()
        ta = (System.nanoTime() - t1) / 1e9
        digest = Await.result(obs.future, 60.seconds).getValuesMap[Any](
          Seq("rows", "lo", "hi"))
      } catch { case e: Throwable =>
        if (tc == 0.0) tc = (System.nanoTime() - t0) / 1e9
        else if (ta == 0.0) ta = (System.nanoTime() - t0) / 1e9 - tc
        err = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      var releasedMb = 0.0
      if (traced) {
        drainBus(); phase = "release"
        releasedMb = sc.getRDDStorageInfo
          .map(i => mb(i.memSize + i.diskSize)).sum
      }
      val t2 = System.nanoTime()
      graft.Caches.releaseAll(spark)
      val tr = (System.nanoTime() - t2) / 1e9
      if (traced) {
        drainBus(); phase = "between"
        val c = counters
        c.add("caches.released_mb", releasedMb)
        c.max("driver.heap_peak_mb", liveHeapMb)
      }
      val builds = graft.ArtifactLog.drain()
      emit("kind" -> "sample", "pass" -> pass, "q" -> name,
        "traced" -> traced, "construct_s" -> tc, "action_s" -> ta,
        "release_s" -> tr, "rows" -> digest.get("rows"),
        "lo" -> digest.get("lo"), "hi" -> digest.get("hi"),
        "schema" -> schema, "err" -> err,
        "artifact_builds" -> builds.size,
        "artifact_build_s" -> builds.map(_.sec).sum)
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      val ld = load1
      val spin = spinMs
      if (traced) {
        counters = new Counters
        attach()
      }
      val gc0 = gcSeconds
      val (steal0, jiffies0) = cpuJiffies
      val t0 = System.nanoTime()
      order(pass).foreach(n => runQuery(pass, n, traced))
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds - gc0
      val (steal1, jiffies1) = cpuJiffies
      val stealFrac =
        if (jiffies1 > jiffies0) (steal1 - steal0).toDouble / (jiffies1 - jiffies0)
        else 0.0
      var layers: Map[String, Double] = Map.empty
      if (traced) {
        drainBus()
        detach()
        phase = "setup"
        layers = counters.snapshot + ("driver.gc_s" -> gc)
      }
      emit("kind" -> "pass", "pass" -> pass, "traced" -> traced,
        "wall_s" -> wall, "load1" -> ld, "spin_ms" -> spin,
        "steal_frac" -> stealFrac, "layers" -> layers)
    }

    (1 to a.warm).foreach(w => runPass(-w, traced = false))
    emit("kind" -> "setup_end", "epoch_ms" -> System.currentTimeMillis())
    // start a timed pass only while it is expected to end within
    // `--seconds` (always at least one, two when tracing alternates)
    val start = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - start) / 1e9
    while (a.seconds > 0 && (walls.size < (if (a.trace) 2 else 1) ||
        elapsed + walls.sum / walls.size <= a.seconds)) {
      val p0 = System.nanoTime()
      runPass(walls.size + 1, traced = a.trace && walls.size % 2 == 0)
      walls += (System.nanoTime() - p0) / 1e9
    }
    emit("kind" -> "end", "vmhwm_kb" -> vmHwmKb)
    sink.close()
    spark.stop()
  }
}
