// Same package-tree hosting rationale as VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning, RowOrdering, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Expand, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{CodegenSupport, CoalesceExec, ExpandExec, FileSourceScanExec, LocalTableScanExec, PartitionedFileUtil, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy, MicroBatchScanExec, StreamingDataSourceV2ScanRelation}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Planner strategy: small inputs that run as ONE task are planned to
  * report `SinglePartition` instead of `UnknownPartitioning`.
  *
  * Spark cannot see that a small scan's output is one partition's
  * worth, and puts a stage boundary above it for every distribution a
  * parent asks for: the partial→final aggregate's
  * `Exchange SinglePartition`, a `groupBy`'s hash exchange, an
  * `orderBy`'s range exchange (plus the sampling job its
  * `RangePartitioner` runs over the child). On small incremental
  * batches — and on the few-file sinks a streaming drain reads back —
  * each boundary costs more in AQE re-planning, stage set-up and job
  * submission than the task inside it. The shapes, each with its bound:
  *
  *  - **V1 file scans**, one decision per scan from Spark's own split
  *    planner: a listing that packs into exactly one split is wrapped
  *    in [[SingleSplitScanExec]], a pass-through (columnar stays
  *    columnar) that only reports `SinglePartition`; a listing whose
  *    `totalFileSize` is at most `maxSplitBytes` but still packs into
  *    several splits (with the default 4 MB `openCostInBytes` every
  *    small file is its own split) is planned under Spark's
  *    `CoalesceExec(1, scan)`, which reads every split in one task, in
  *    split order, and reports `SinglePartition`; anything larger is
  *    left alone.
  *  - **DSv2 scans** (batch and micro-batch, planned by Spark's own
  *    `DataSourceV2Strategy` on the planning session): a
  *    `BatchScanExec` or `MicroBatchScanExec` with exactly one input
  *    partition, no key-grouped partitioning and no runtime filters is
  *    wrapped in [[SingleSplitScanExec]]. The source decides the split
  *    count; the lake's micro-batch stream packs a batch into one split
  *    only when its files fit `maxSplitBytes`.
  *  - **Sorted local relations**: a global `Sort` over a non-streaming
  *    `LocalRelation` with deterministic, evaluable keys is planned as
  *    a `LocalTableScanExec` of the rows sorted on the driver by a
  *    stable sort, instead of a range exchange, its sampling job and a
  *    sort. Ties keep their input order, which is what Spark's sort
  *    gives over one input partition (over several it leaves ties in
  *    shuffle-fetch order, which no caller can rely on). It only
  *    touches rows the driver already holds.
  *  - **Row-local `Expand`**: every `ExpandExec` is planned under
  *    [[SinglePartitionExpandExec]], which reports `SinglePartition`
  *    when the Expand's child does and the Expand's own partitioning
  *    otherwise, and stays in the Expand's whole-stage-codegen stage.
  *
  * `SinglePartition` satisfies every distribution without a fixed
  * partition count, so EnsureRequirements plans no exchange there, and
  * everything else stays correct by construction: stateful streaming
  * operators ask for N state partitions and keep their exchange, a join
  * against a multi-split side still shuffles both sides, and explicit
  * `repartition(n)` calls are planned as before.
  *
  * The V1 split count comes from the scan's own file listing run
  * through Spark's split planner (`maxSplitBytes` → `splitFiles` →
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
  * (`experimental.extraStrategies`). A cloned session shares this one
  * object, so nothing here holds a session: the DSv2 planner is built
  * on the session whose query is being planned (the active one).
  */
object SingleSplitScans extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, LocalRelation(output, data, false, None), _)
        if order.forall(driverEvaluable) =>
      // Seq.sorted is a stable sort
      LocalTableScanExec(output, data.sorted(RowOrdering.create(order, output)),
        None) :: Nil
    case e: Expand =>
      SinglePartitionExpandExec(
        ExpandExec(e.projections, e.output, planLater(e.child))) :: Nil
    case PhysicalOperation(_, _,
        _: DataSourceV2ScanRelation | _: StreamingDataSourceV2ScanRelation) =>
      new DataSourceV2Strategy(SparkSession.active)(plan).map(_.transformUp {
        case s: BatchScanExec if s.runtimeFilters.isEmpty &&
            s.keyGroupedPartitioning.isEmpty && s.inputPartitions.length == 1 =>
          SingleSplitScanExec(s)
        case s: MicroBatchScanExec if
            s.keyGroupedPartitioning.isEmpty && s.inputPartitions.length == 1 =>
          SingleSplitScanExec(s)
      })
    case _ =>
      FileSourceStrategy(plan).map(_.transformUp {
        case s: FileSourceScanExec if eligible(s) => splitCount(s) match {
          case Some(1) => SingleSplitScanExec(s)
          case Some(n) if n > 1 => CoalesceExec(1, s)
          case _ => s
        }
      })
  }

  /** A sort key the driver can evaluate over the relation's rows:
    * deterministic, and nothing unevaluable (a subquery, say) in it
    * besides the attributes the ordering binds.
    */
  private def driverEvaluable(o: SortOrder): Boolean =
    o.deterministic && !o.child.exists {
      case _: Attribute => false
      case e => e.isInstanceOf[Unevaluable]
    }

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

/** Transparent marker over an `ExpandExec`. Expand is row-local (each
  * input partition maps to one output partition), but `ExpandExec`
  * reports `UnknownPartitioning` whatever its child reports. This
  * reports `SinglePartition` when the Expand's child does, and the
  * Expand's own partitioning otherwise, so a multi-partition Expand
  * plans as before. Code generation is delegated: the Expand and the
  * operator above this marker stay in one whole-stage-codegen stage.
  */
case class SinglePartitionExpandExec(child: SparkPlan)
    extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child match {
    case ExpandExec(_, _, in) if in.outputPartitioning == SinglePartition =>
      SinglePartition
    case _ => child.outputPartitioning
  }
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = consume(ctx, input)

  override protected def withNewChildInternal(
      newChild: SparkPlan): SinglePartitionExpandExec = copy(child = newChild)
}
