package graft.sources

import java.nio.file.Files
import java.sql.{DriverManager, SQLException}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** JDBC source/sink — the engine-side equivalent of the reference's
  * PostgreSQL persistence layer (`src/db.js:4-12`, pool write path
  * `src/services/saveToPostgres.js:315-409`). The container ships no
  * PostgreSQL server or driver, but Spark bundles Apache Derby, whose
  * embedded mode exercises the exact same `spark.read/write.format
  * ("jdbc")` surface a production deployment points at Postgres:
  *
  *  - write: per-partition batched INSERTs (`batchsize`), bounded
  *    connection fan-out (`numPartitions`) — the JDBC analogue of the
  *    reference's chunked pool writes;
  *  - read: predicate-partitioned parallel scan (`partitionColumn` /
  *    `lowerBound` / `upperBound` / `numPartitions`) so a large table
  *    arrives as N concurrent range queries, not one driver-side cursor.
  *
  * The database is ONE in-memory Derby database per JVM
  * (`jdbc:derby:memory:graft`), created on first use and alive until
  * the JVM exits — the closer port of the reference's single long-lived
  * `pg.Pool`. Each caller writes its own uniquely named table
  * ([[scratchTable]]) and drops it at the next `Caches.releaseAll`, so
  * a call pays no database create, no fsync and no directory delete.
  * Like any embedded database it is reachable only from the JVM that
  * hosts it: it stands in for Postgres in local mode, where executors
  * share the driver's JVM, and not on a cluster.
  *
  * Swapping Derby for Postgres is a URL + driver-class change only.
  */
object Jdbc {

  /** URL of the JVM-lived in-memory database. The first use points
    * Derby's log at one per-JVM temp file (before Derby boots, which is
    * when it reads the property; a caller's own setting wins) and
    * creates the database.
    */
  private[graft] lazy val sessionUrl: String = {
    if (System.getProperty("derby.stream.error.file") == null) {
      val log = Files.createTempFile("derby_graft_", ".log")
      log.toFile.deleteOnExit()
      System.setProperty("derby.stream.error.file", log.toString)
    }
    val url = "jdbc:derby:memory:graft;create=true"
    DriverManager.getConnection(url).close()
    url
  }

  private val tableSeq = new AtomicLong()

  /** A fresh table name in the session database, returned with the
    * database URL. The hook that drops the table is registered with
    * `Caches.onRelease` before the caller writes anything, so a write
    * that fails half-way still leaves no table behind.
    */
  def scratchTable(tag: String): (String, String) = {
    require(tag.matches("[A-Za-z][A-Za-z0-9_]*"), s"bad table tag: $tag")
    val url = sessionUrl
    // Derby folds unquoted identifiers to upper case
    val table = s"${tag}_${tableSeq.incrementAndGet()}".toUpperCase(Locale.ROOT)
    graft.Caches.onRelease(() => dropTable(url, table))
    (url, table)
  }

  /** `DROP TABLE`, where a table that was never created (SQLState
    * 42Y55) is not an error.
    */
  private def dropTable(url: String, table: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(s"DROP TABLE $table")
    catch { case e: SQLException if e.getSQLState == "42Y55" => () }
    finally conn.close()
  }

  /** Executor-side batched append: each partition opens one connection
    * and writes `batchsize`-row INSERT batches — no driver collect.
    * `repartition` (not `coalesce`) bounds the connection fan-out: a
    * coalesce would propagate upstream and collapse the producing
    * computation to `maxConnections` tasks; the shuffle barrier keeps
    * upstream parallelism at cluster width and narrows only the write.
    * An input already planned as one partition is written as it is:
    * one connection, and no shuffle to fan it out to empty tasks.
    */
  def writeTable(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000, maxConnections: Int = 8): Unit =
    writeInput(df, maxConnections)
      .write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .mode("append")
      .save()

  /** The frame [[writeTable]] writes: `df` itself when its physical
    * plan, as prepared before anything runs, reports `SinglePartition`,
    * else `df.repartition(maxConnections)`.
    */
  private[graft] def writeInput(df: DataFrame,
      maxConnections: Int): DataFrame = {
    val prepared = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (prepared.outputPartitioning == SinglePartition) df
    else df.repartition(maxConnections)
  }

  /** Range-partitioned parallel read: Spark issues `numPartitions`
    * disjoint range queries on `partitionCol`, one per task.
    */
  def readTable(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long,
      numPartitions: Int = 8, fetchSize: Int = 1000): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .option("fetchsize", fetchSize)
      .load()

  /** Single-partition read for small tables (dimension-sized). */
  def readTableWhole(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()

  /** Registered round trip (q65): aggregate events, persist the summary
    * through the JDBC sink, read it back through the JDBC source. The
    * returned rows are byte-identical to the direct aggregation (BIGINT
    * and DOUBLE survive JDBC exactly), which is what the oracle checks —
    * proving the reference's load-to-Postgres step (`saveToPostgres.js`)
    * has a working engine-side equivalent.
    */
  def roundTripSummary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val summary = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
    val (url, table) = scratchTable("q65")
    writeTable(summary, url, table, maxConnections = 4)
    // the whole-table read is one partition already; coalesce(1) makes
    // that known to the planner (SinglePartition), so the sort below
    // runs in that task instead of behind a sampled range exchange
    readTableWhole(spark, url, table).coalesce(1)
      .select(col("event_type"), col("n_events"), col("total_value"),
        col("min_event_id"), col("max_event_id"))
      .orderBy(col("event_type"))
  }
}
