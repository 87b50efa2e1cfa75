package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ChildSessions
import org.apache.spark.sql.types._

import graft.operators.Anonymity

/** Streaming k-anonymity maintenance (q455–q456, block 50): the
  * privacy audit as continuously-maintained state, the q393/q421
  * discipline applied to block 46. ONE sum-merged cell state at the
  * finest QI grain — (nation, region, segment, and ALL THREE balance
  * buckets, since 2500/5000 are not multiples of 1000 and coarser
  * levels cannot be rebuilt from the finest bucket alone) — serves
  * both release facets at drain time: the full generalization ladder
  * (q455) and the l-diversity work list (q456). Because a QI class
  * count is a pure per-row classification summed over arrivals, the
  * batch queries' SQL (q445/q446) is the oracle for ANY
  * micro-batching — the twin contract.
  *
  * Why it matters at 100 TB: a release audit that reruns over the
  * whole customer table per ingest is a full-scan-per-batch; this
  * state is bounded by the QI cross-product (thousands of cells, not
  * rows), each batch folds O(batch) rows into it, and the ladder is
  * computed from cells alone.
  */
object AnonymityState {

  private val custSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("nation", LongType),
    StructField("region", LongType),
    StructField("segment", StringType),
    StructField("c_acctbal", DoubleType)))

  /** Drain the 3-batch customer stream into the QI cell state and
    * return the final cells.
    */
  /** The maintained cell state is ONE fold serving both facets (see
    * the object doc) — materialize the drained cells once per corpus
    * fingerprint so q455 and q456 stop each paying the same 3-batch
    * drain.
    */
  private def drainedCells(spark: SparkSession,
      dir: String): DataFrame = {
    // the cells fold nation/region/segment/balance buckets — the
    // fingerprint must cover every consumed column, not just the key,
    // or an attribute-only corpus change serves stale cells (r18
    // verdict #4)
    val cols = Seq("c_custkey", "nation", "region", "segment",
      "c_acctbal")
    val fp = LedgerArtifacts.fingerprint(
      Anonymity.customers(spark, dir).select(cols.map(col): _*), cols)
    LedgerArtifacts.sharedTable(spark,
      s"kanon_cells_${LedgerArtifacts.dirKey(dir)}",
      s"${fp._1}_${fp._2}")(drainedCellsLive(
      ChildSessions.withConfs(spark, StreamingOps.StateWidth), dir))
  }

  private def drainedCellsLive(spark: SparkSession,
      dir: String): DataFrame = {
    val cust = Anonymity.customers(spark, dir)
      .withColumnRenamed("c_custkey", "doc_id")
    val streamDir = StreamingOps.idRangeSplitSource(spark, cust, 3)
    val root = graft.Caches.trackTempDir(
      Files.createTempDirectory("graft_kanon_state_")).toString
    val cellRoot = s"$root/cells"
    val ledger = new StreamingOps.VersionedLedger(spark, cellRoot,
      Some(root))
    val keys = Seq("nation", "region", "segment", "b1000", "b2500",
      "b5000")
    StreamingOps.drain(StreamingOps.streamParquet(spark, custSchema,
        streamDir, "*.parquet", Some(1)), Some(root)) { (batch, id) =>
      ledger.fold(id, Anonymity.qiCellsOf(batch))(
        _.groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt")))
    }
    spark.read.parquet(ledger.path)
  }

  /** q455: the q445 ladder from the MAINTAINED cell state. */
  def streamingKanonLadder(spark: SparkSession, dir: String): DataFrame =
    Anonymity.ladderFromCells(drainedCells(spark, dir))

  /** q456: the q446 l-diversity work list from the same state. */
  def streamingLDiversity(spark: SparkSession, dir: String): DataFrame =
    Anonymity.lDiversityFromCells(drainedCells(spark, dir))
}
