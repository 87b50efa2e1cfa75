// Same package-tree hosting rationale as VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Planner strategy: a V1 file scan small enough to read in ONE task
  * is planned to report `SinglePartition` instead of
  * `UnknownPartitioning`.
  *
  * Spark cannot see that a small scan's output is one partition's
  * worth, and puts a stage boundary above it for every distribution a
  * parent asks for: the partial→final aggregate's
  * `Exchange SinglePartition`, a `groupBy`'s hash exchange, an
  * `orderBy`'s range exchange (plus the sampling job its
  * `RangePartitioner` runs over the child). On small incremental
  * batches — and on the few-file sinks a streaming drain reads back —
  * each boundary costs more in AQE re-planning, stage set-up and job
  * submission than the task inside it. One decision per scan, from
  * Spark's own split planner:
  *
  *  - the listing packs into exactly one split: the scan is wrapped in
  *    [[SingleSplitScanExec]], a pass-through (columnar stays columnar)
  *    that only reports `SinglePartition`;
  *  - the listing's `totalFileSize` is at most `maxSplitBytes` but it
  *    still packs into several splits (with the default 4 MB
  *    `openCostInBytes` every small file is its own split): the scan is
  *    planned under Spark's `CoalesceExec(1, scan)`, which reads every
  *    split in one task, in split order, and reports `SinglePartition`;
  *  - anything larger is left alone.
  *
  * `SinglePartition` satisfies every distribution without a fixed
  * partition count, so EnsureRequirements plans no exchange there, and
  * everything else stays correct by construction: stateful streaming
  * operators ask for N state partitions and keep their exchange, a join
  * against a multi-split side still shuffles both sides, and explicit
  * `repartition(n)` calls are planned as before.
  *
  * The split count comes from the scan's own file listing run through
  * Spark's split planner (`maxSplitBytes` → `splitFiles` →
  * `getFilePartitions`, as `FileSourceScanExec.createReadRDD` does) —
  * never from `inputRDD`, which would build the reader and broadcast
  * the Hadoop conf on every AQE re-plan. Bucketed scans (their
  * partitioning is the bucket layout) and scans carrying dynamic
  * partition-pruning filters (their listing is only known at run time)
  * are left alone. The bound is `maxSplitBytes` (at most
  * `maxPartitionBytes`, a constant), so no task's input grows with
  * corpus size, and multi-split corpora keep the large-scale plan.
  *
  * Registered with [[GraftExtensions]] (`injectPlannerStrategy`) or at
  * runtime via [[GraftFunctions.register]]
  * (`experimental.extraStrategies`).
  */
object SingleSplitScans extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case s: FileSourceScanExec if eligible(s) => splitCount(s) match {
        case Some(1) => SingleSplitScanExec(s)
        case Some(n) if n > 1 => CoalesceExec(1, s)
        case _ => s
      }
    })

  private def eligible(s: FileSourceScanExec): Boolean =
    s.relation.bucketSpec.isEmpty &&
      !s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning]))

  /** The number of FilePartitions Spark packs the scan's listing into,
    * or None when the listing is larger than one partition may hold.
    */
  private def splitCount(s: FileSourceScanExec): Option[Int] = {
    val session = s.relation.sparkSession
    val listing = s.selectedPartitions
    val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
    // the bound skips the per-file split walk for large listings (an
    // oversized unsplittable file, really one split, stays unwrapped:
    // conservative)
    if (listing.totalFileSize > maxSplitBytes) None
    else {
      val splits = listing.filePartitionIterator.flatMap { p =>
        p.files.flatMap { f =>
          val path = f.getPath
          PartitionedFileUtil.splitFiles(f, path,
            s.relation.fileFormat.isSplitable(session, s.relation.options, path),
            maxSplitBytes, p.values)
        }
      }.toSeq.sortBy(-_.length)
      Some(FilePartition.getFilePartitions(session, splits, maxSplitBytes).length)
    }
  }
}

/** Transparent marker over a one-split scan: the child's rows, in the
  * child's format (columnar or row), reported as `SinglePartition`.
  * Columnar pass-through keeps `ColumnarToRow` and whole-stage codegen
  * fusing above it exactly as above the bare scan.
  */
case class SingleSplitScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = child.vectorTypes

  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.executeColumnar()

  override protected def withNewChildInternal(
      newChild: SparkPlan): SingleSplitScanExec = copy(child = newChild)
}
