package graft

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Jdbc, Tables}

/** JDBC source/sink round trip over Spark's bundled embedded Derby —
  * the engine-side stand-in for the reference's PostgreSQL layer.
  * Every call writes a scratch table in the one JVM-lived in-memory
  * database; `Caches.releaseAll` drops it.
  */
class JdbcSpec extends SparkSpec {

  /** User tables currently in the session database. */
  private def tables(): Set[String] = {
    val conn = DriverManager.getConnection(Jdbc.sessionUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'")
      Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString(1)).toSet
    } finally conn.close()
  }

  private def derbyTempDirs(): Set[String] = java.nio.file.Files
    .list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    .iterator().asScala
    .filter(p => java.nio.file.Files.isDirectory(p))
    .map(_.getFileName.toString).filter(_.startsWith("graft_derby_")).toSet

  private def direct: DataFrame = Tables.events(spark, sfDir)
    .groupBy(col("event_type"))
    .agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
      min(col("event_id")).as("min_event_id"),
      max(col("event_id")).as("max_event_id"))
    .orderBy(col("event_type"))

  test("customer table survives a JDBC write + partitioned parallel read") {
    val customer = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
    val (url, table) = Jdbc.scratchTable("spec")
    Jdbc.writeTable(customer, url, table, maxConnections = 4)

    val bounds = customer
      .agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val back = Jdbc.readTable(spark, url, table, "c_custkey",
      bounds.getLong(0), bounds.getLong(1), numPartitions = 4)

    // the partitioned read really fans out into N range scans
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == customer.count())
    // exact value round trip, both directions
    val a = customer.select(col("c_custkey"), col("c_name"),
      col("c_acctbal"), col("c_mktsegment"))
    val b = back.select(col("c_custkey"), col("c_name"),
      col("c_acctbal"), col("c_mktsegment"))
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
    Caches.releaseAll(spark)
    assert(!tables().contains(table))
  }

  test("conflict-ignore upsert into a JDBC sink is idempotent") {
    // the reference's INSERT ... ON CONFLICT DO NOTHING against a real
    // JDBC table: anti-join the incoming batch against the sink's keys,
    // append only the novel rows — replaying the same batch is a no-op
    val (url, table) = Jdbc.scratchTable("upsert")
    val batch1 = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name")).filter(col("c_custkey") < 100)
    Jdbc.writeTable(batch1, url, table, maxConnections = 2)

    val batch2 = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name")).filter(col("c_custkey") < 150)
    def upsert(batch: DataFrame): Unit = {
      val existing = Jdbc.readTableWhole(spark, url, table)
        .select(col("c_custkey").as("k"))
      val novel = batch.join(existing, col("c_custkey") === col("k"),
        "left_anti")
      Jdbc.writeTable(novel, url, table, maxConnections = 2)
    }
    upsert(batch2)
    assert(Jdbc.readTableWhole(spark, url, table).count() == 150)
    upsert(batch2) // replay: nothing new
    assert(Jdbc.readTableWhole(spark, url, table).count() == 150)
    // no duplicated keys
    assert(Jdbc.readTableWhole(spark, url, table)
      .select(col("c_custkey")).distinct().count() == 150)
    Caches.releaseAll(spark)
    assert(!tables().contains(table))
  }

  test("q65 JDBC round trip equals the direct aggregation") {
    // twice in one session: each call writes its own table in the
    // session database, and release drops it — no per-call directory
    val dirsBefore = derbyTempDirs()
    val expected = direct.collect().toSeq
    val runs = (1 to 2).map { _ =>
      val before = tables()
      val rows = Jdbc.roundTripSummary(spark, sfDir).collect().toSeq
      val made = tables() -- before
      assert(made.size == 1 && made.head.startsWith("Q65_"), made)
      Caches.releaseAll(spark)
      assert((tables() intersect made).isEmpty,
        s"table not dropped at release: $made")
      rows
    }
    assert(runs(0) == expected)
    assert(runs(1) == expected)
    assert(derbyTempDirs() == dirsBefore,
      "no per-call Derby directory is created")
  }

  test("a one-partition input writes without a shuffle; a wider one repartitions") {
    def exchanges(df: DataFrame): Seq[String] = preparedPlan(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.outputPartitioning.toString
    }
    // the shared session reads the sf0.001 events file as one task;
    // a plain session without the small-scan strategy hash-partitions
    // the aggregate across the session width
    def summary(s: org.apache.spark.sql.SparkSession) =
      Tables.events(s, sfDir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val one = summary(spark)
    val wide = summary(spark.newSession())
    assert(exchanges(one).isEmpty)
    assert(exchanges(Jdbc.writeInput(one, 4)).isEmpty)
    assert(exchanges(wide).nonEmpty)
    assert(exchanges(Jdbc.writeInput(wide, 4)).exists(_.contains("RoundRobin")),
      preparedPlan(Jdbc.writeInput(wide, 4)))
    val back = Seq(one, wide).map { df =>
      val (url, table) = Jdbc.scratchTable("width")
      Jdbc.writeTable(df, url, table, maxConnections = 4)
      Jdbc.readTableWhole(spark, url, table)
        .orderBy(col("event_type")).collect().toSeq
    }
    assert(back(0).nonEmpty && back(0) == back(1))
    assert(back(0) == one.orderBy(col("event_type")).collect().toSeq)
    Caches.releaseAll(spark)
  }

  test("a write that fails still drops its table at release") {
    val (url, table) = Jdbc.scratchTable("failing")
    val poisoned = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        raise_error(lit("poisoned row")).cast("string").as("boom"))
    intercept[Exception] {
      Jdbc.writeTable(poisoned, url, table, maxConnections = 2)
    }
    // Spark creates the table before its insert tasks fail
    assert(tables().contains(table))
    Caches.releaseAll(spark)
    assert(!tables().contains(table))
  }

  test("concurrent q65 calls on one session: distinct tables, both correct") {
    val expected = direct.collect().toSeq
    val before = tables()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
          def call() = Jdbc.roundTripSummary(spark, sfDir).collect().toSeq
        }))
      futures.foreach(f => assert(f.get() == expected))
    } finally pool.shutdown()
    val made = tables() -- before
    assert(made.size == 2 && made.forall(_.startsWith("Q65_")), made)
    Caches.releaseAll(spark)
    assert((tables() intersect made).isEmpty,
      s"tables not dropped at release: $made")
  }
}
