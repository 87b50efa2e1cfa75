package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: Bench, Verify, Explain,
  * BuildArtifacts, the test suite and the test probes all plan with
  * the same confs and the same extensions.
  *
  * The extensions are installed with
  * [[org.apache.spark.sql.graft.GraftFunctions.register]] on the running
  * session, the way the perfbench harness installs them, not through
  * `spark.sql.extensions` at build time: an injected optimizer rule
  * lands in a different optimizer batch than an `extraOptimizations`
  * one, so a build-time install would plan the HOF-dot rewrite
  * differently from the session the benchmark measures.
  */
object Sessions {

  /** The confs every graft session carries at `cpus` cores. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is TIMESTAMP(NANOS) in some fixture vintages; read it as
    // a nanos long, which Tables.normalizeTs turns into timestamp_ntz
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // split small single-file fixtures across the local cores: the
    // 53 MB embeddings file is ONE task at the 128 MB default, which
    // serializes every corpus pass; order-independent aggregates
    // (exact long/decimal sums, row-local folds) make the split
    // count invisible to the oracle
    "spark.sql.files.maxPartitionBytes" -> "2m")

  /** A `local[cpus]` session (default `SPARK_GRAFT_CPUS`, else 4) with
    * [[confs]] plus `extra` (e.g. a test warehouse dir), the log level
    * from `SPARK_GRAFT_LOGLEVEL` (default WARN), and the SQL functions,
    * HOF-dot rewrite and one-split scan strategy registered.
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    (confs(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark
  }
}
