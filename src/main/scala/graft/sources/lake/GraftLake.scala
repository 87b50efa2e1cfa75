package graft.sources.lake

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Optimize, ZoneMap}
import graft.sources.Tables
import graft.streaming.{LedgerArtifacts, StreamingOps}

/** The graft lake table format's WRITER + manifest IO + the oracled
  * queries that drive [[LakeTableProvider]] (q507–q509, q521–q524,
  * blocks 81/90/91).
  *
  * A lake table is a directory of parquet files plus a committed
  * `_manifest.tsv` whose HEADER declares the table (columns + types,
  * zone-stat columns, optional bloom column) and whose rows carry one
  * file each: physical path, row count, per-zone-column [min,max],
  * and the bloom bitmap. [[writeTable]] writes ANY DataFrame carrying
  * a `file_id` layout column this way — the LAYOUT is the caller's
  * decision (Z-order for the orders instance, id-sort for the
  * documents instance), exactly as OPTIMIZE owns layout in a real
  * format. Commit protocol: staging→rename→meta-marker-last, corpus
  * fingerprint as freshness ([[LedgerArtifacts]] discipline); single
  * writing process per artifact root ([[graft.BuildArtifacts]]).
  *
  * Two committed instances:
  *  - `orders`: the OPTIMIZE output (live rows, %37 DVs folded,
  *    Z-ordered, 256-row files), zones on both keys, bloom on
  *    `o_orderkey` — q488's artifact as the engine's own read path;
  *  - `documents`: the full five-column corpus registry (including
  *    the wide `text`), id-sorted into 512-row files, zones on
  *    `doc_id`/`n_chars`, bloom on `doc_id` — proving the format is
  *    schema-general (strings ride the same reader; the projection
  *    pushdown keeps `text` undecoded unless asked for).
  *
  * 100 TB shape: the build is the layout job the table was already
  * paying (scan + one shuffle + per-file stat aggregation); the
  * manifest is one metadata row per file. Every query here reads
  * through the provider, so its cost is proportional to files
  * ADMITTED by its predicate — the audit columns quantify exactly how
  * many.
  */
object GraftLake {

  /** The session's Hadoop conf when a session is up (so non-default
    * filesystem settings/credentials reach manifest and DV IO), else
    * defaults — callable from any thread (build pools included).
    */
  private[graft] def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Committed snapshot versions under a root, across both commit
    * encodings: `_manifest_v<N>.tsv` files (the build-time fixtures)
    * and `_commit_v<N>/manifest.tsv` dirs (the DSv2 write path, whose
    * commit claim is a dir rename because a FILE rename on local/HDFS
    * semantics cannot claim-if-absent).
    */
  private[graft] def committedVersions(fs: FileSystem,
      root: String): Seq[Long] =
    fs.listStatus(new HPath(root)).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith("_manifest_v") &&
          n.endsWith(".tsv"))
        Some(n.stripPrefix("_manifest_v").stripSuffix(".tsv").toLong)
      else if (st.isDirectory && n.startsWith("_commit_v"))
        Some(n.stripPrefix("_commit_v").toLong)
      else None
    }.distinct.sorted

  /** The manifest path of a committed version (commit-dir encoding
    * wins when both exist — they never should).
    */
  private def manifestPathOf(fs: FileSystem, root: String,
      v: Long): HPath = {
    val dirP = new HPath(s"$root/_commit_v$v/manifest.tsv")
    if (fs.exists(dirP)) dirP else new HPath(s"$root/_manifest_v$v.tsv")
  }

  /** The raw file lines of a committed snapshot — what an APPEND
    * copies verbatim into its successor manifest (old files are never
    * touched, re-stat'd, or renumbered).
    */
  private[lake] def rawFileLines(fs: FileSystem, root: String,
      version: Option[Long]): Seq[String] = {
    val p = version match {
      case Some(v) => manifestPathOf(fs, root, v)
      case None    => new HPath(s"$root/_manifest.tsv")
    }
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      body.split('\n').filter(l => l.nonEmpty && !l.startsWith("#"))
        .toSeq
    }
  }

  /** The `#schema` header line of a committed snapshot, verbatim —
    * what a metadata-only commit (a DELETE's DV swap) copies into
    * its successor so schema/zones/partitioning ride unchanged.
    */
  private[lake] def rawHeaderLine(fs: FileSystem, root: String,
      version: Option[Long]): String = {
    val p = version match {
      case Some(v) => manifestPathOf(fs, root, v)
      case None    => new HPath(s"$root/_manifest.tsv")
    }
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    body.split('\n').find(_.startsWith("#schema")).getOrElse(
      sys.error(s"no #schema header in $p"))
  }

  /** Parse a committed table's metadata. Manifest format: header
    * `#schema<TAB>col:type,...<TAB>zone_cols<TAB>bloom_col|-`, an
    * optional `#props<TAB>k=v...` line (commit metadata: batch id for
    * idempotent replay, version), then one line per file:
    * `file_id  rel_path  n_rows  zmins  zmaxs  bloom_words` (comma-
    * joined arrays, `-` when the table declares no bloom). Latest =
    * the MAX committed version when the table keeps versioned
    * snapshots, else the flat `_manifest.tsv`.
    */
  private[graft] def readMeta(root: String,
      version: Option[Long] = None): LakeMeta = {
    val fs = new HPath(root).getFileSystem(hadoopConf)
    val p = version match {
      case Some(v) =>
        val cand = manifestPathOf(fs, root, v)
        if (!fs.exists(cand)) {
          val have = committedVersions(fs, root).mkString(", ")
          sys.error(s"lake table at $root has no snapshot version $v " +
            s"(committed versions: ${if (have.isEmpty) "none - this " +
              "table keeps no versioned snapshots" else have})")
        }
        cand
      case None =>
        val vs = committedVersions(fs, root)
        val cand =
          if (vs.nonEmpty) manifestPathOf(fs, root, vs.max)
          else new HPath(s"$root/_manifest.tsv")
        if (!fs.exists(cand))
          sys.error(s"no committed lake manifest under $root")
        cand
    }
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val lines = body.split('\n').filter(_.nonEmpty)
    val h = lines.head.split('\t')
    require(h(0) == "#schema", s"bad lake manifest header under $root")
    val schema = StructType(h(1).split(',').map { ct =>
      val Array(n, t) = ct.split(':')
      StructField(n, LakeEncode.parseType(t), nullable = true)
    })
    val zoneCols = h(2).split(',').filter(_.nonEmpty)
    val bloomCol = if (h(3) == "-") None else Some(h(3))
    val partSpec = if (h.length > 4 && h(4) != "-")
      Some(LakePartSpec.parse(h(4))) else None
    val props = lines.tail.filter(_.startsWith("#props"))
      .flatMap(_.split('\t').drop(1))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
      .toMap
    def longs(s: String): Array[Long] =
      if (s == "-" || s.isEmpty) Array.empty[Long]
      else s.split(',').map(_.toLong)
    val files = lines.tail.filterNot(_.startsWith("#")).map { line =>
      val f = line.split('\t')
      LakeFile(f(0).toLong, f(1), f(2).toLong,
        longs(f(3)), longs(f(4)),
        if (f(5) == "-") Array.empty[Long]
        else f(5).split(',').map(_.toLong),
        if (f.length > 6 && f(6) != "-") Some(f(6)) else None,
        if (f.length > 7) f(7).toLong else 0L,
        if (f.length > 8 && f(8) != "-") Some(f(8).toLong) else None)
    }.toSeq
    LakeMeta(schema, zoneCols, bloomCol, files, props, partSpec)
  }

  /** Write `filed` (data columns + a `file_id` layout column) as a
    * committed lake table under `staging`: one physical parquet file
    * per file id, the manifest with per-file zone stats over
    * `zoneCols` (long-typed) and, when `bloomCol` is set, the
    * per-file bloom bitmap.
    */
  private def writeTable(spark: SparkSession, fs: FileSystem,
      staging: String, filed: DataFrame,
      dataCols: Seq[(String, String)], zoneCols: Seq[String],
      bloomCol: Option[String]): Unit = {
    val lines = writeFiles(spark, fs, staging, "data", filed, zoneCols,
      bloomCol)
    writeText(fs, s"$staging/_manifest.tsv",
      (headerOf(dataCols, zoneCols, bloomCol) +: lines)
        .mkString("", "\n", "\n"))
  }

  private[lake] def headerOf(dataCols: Seq[(String, String)],
      zoneCols: Seq[String], bloomCol: Option[String],
      partSpec: Option[String] = None): String =
    s"#schema\t${dataCols.map { case (n, t) => s"$n:$t" }
      .mkString(",")}\t${zoneCols.mkString(",")}\t${
      bloomCol.getOrElse("-")}" +
      partSpec.fold("")(s => s"\t$s")

  /** Write one batch of files under `<staging>/<subdir>` and return
    * its manifest lines — the unit an APPEND commits beside the
    * existing ones (old files are never touched or renumbered).
    */
  private[lake] def writeFiles(spark: SparkSession, fs: FileSystem,
      staging: String, subdir: String, filed: DataFrame,
      zoneCols: Seq[String], bloomCol: Option[String],
      partValCol: Option[String] = None): Seq[String] = {
    // zone stats aggregate in the column's NATIVE type (min/max are
    // order-preserving); the driver encodes the collected extrema into
    // the manifest's ordered-long domain afterwards — so zones on
    // date/timestamp/decimal/double cost the same one agg as longs
    val zoneTypes = zoneCols.map(c => filed.schema(c).dataType)
    bloomCol.foreach { bc =>
      require(Set[Any](LongType,
        org.apache.spark.sql.types.IntegerType)
        .contains(filed.schema(bc).dataType),
        s"graft-lake: bloom column $bc must be integral (bitmap keys " +
          "are exact integer arithmetic the oracle re-derives)")
    }
    // one physical parquet file per planned file id: repartition by
    // file_id puts each id in exactly one task, partitionBy then cuts
    // one file per id dir
    filed.repartition(col("file_id"))
      .write.partitionBy("file_id").mode("overwrite")
      .parquet(s"$staging/$subdir")
    val zoneAggs = (count(lit(1)).as("n_rows") +:
      zoneCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))) ++
      partValCol.toSeq.flatMap(pc => Seq(
        min(col(pc)).cast("long").as("min_pval"),
        max(col(pc)).cast("long").as("max_pval")))
    val zones = filed.groupBy(col("file_id"))
      .agg(zoneAggs.head, zoneAggs.tail: _*)
    val withBloom = bloomCol match {
      case Some(bc) =>
        val posCols = LakeBloom.Hashes.map { case (a, b) =>
          expr(s"(($bc * ${a}L + ${b}L) % ${LakeBloom.P}L) " +
            s"% ${LakeBloom.Bits}L")
        }
        val blooms = filed
          .select(col("file_id"), explode(array(posCols: _*)).as("pos"))
          .groupBy(col("file_id"))
          .agg(sort_array(collect_set(col("pos"))).as("poss"))
        zones.join(blooms, Seq("file_id"))
      case None => zones
    }
    // metadata-sized collect: one row per file (the manifest a table
    // format keeps in its log)
    val rows = withBloom.collect().sortBy(_.getAs[Long]("file_id"))
    val lines = rows.map { r =>
      val id = r.getAs[Long]("file_id")
      val fname = {
        val d = new HPath(s"$staging/$subdir/file_id=$id")
        val fsFiles = fs.listStatus(d)
          .filter(_.getPath.getName.endsWith(".parquet"))
        if (fsFiles.length != 1)
          sys.error(s"lake build: expected exactly one parquet file " +
            s"under $d, found ${fsFiles.length}")
        fsFiles(0).getPath.getName
      }
      def enc(pref: String): Seq[Long] =
        zoneCols.zip(zoneTypes).map { case (c, dt) =>
          LakeEncode.toOrderedLong(dt, r.get(r.fieldIndex(s"$pref$c")))
            .getOrElse(sys.error(s"graft-lake: zone column $c of file " +
              s"$id has a null/unencodable $pref stat — zone columns " +
              "must be non-null"))
        }
      val zmins = enc("min_")
      val zmaxs = enc("max_")
      val bloomStr = bloomCol match {
        case Some(_) =>
          val words = new Array[Long](LakeBloom.Words)
          r.getSeq[Long](r.fieldIndex("poss")).foreach { p =>
            words((p >> 6).toInt) |= 1L << (p & 63)
          }
          words.mkString(",")
        case None => "-"
      }
      val pvalStr = partValCol.map { _ =>
        val lo = r.getAs[Long]("min_pval")
        val hi = r.getAs[Long]("max_pval")
        require(lo == hi, s"graft-lake: file $id spans partition " +
          s"values [$lo,$hi] — the layout must cut files within one " +
          "partition")
        s"\t$lo"
      }.getOrElse("")
      s"$id\t$subdir/file_id=$id/$fname\t${r.getAs[Long]("n_rows")}" +
        s"\t${zmins.mkString(",")}\t${zmaxs.mkString(",")}\t$bloomStr" +
        "\t-\t0" + pvalStr
    }
    lines.toSeq
  }

  /** The lake format's build version, stamped into the freshness
    * marker: a binary whose BUILD logic changed (new snapshot kinds,
    * new manifest fields) must not read a durable root's artifact
    * built by an older one — the stamp mismatch forces a rebuild the
    * same way a corpus change does.
    */
  private val FormatVersion = 3

  /** Build-once commit wrapper: freshness by corpus fingerprint +
    * format version, the standard staging→swap→meta-last protocol.
    */
  private[lake] def ensureLake(spark: SparkSession, name: String,
      fp: (Long, Long))(build: (FileSystem, String) => Unit): String =
    synchronized {
      val dest = s"${LedgerArtifacts.artifactRoot}/$name"
      val fs = new HPath(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def fresh: Boolean = {
        val meta = new HPath(s"$dest/_meta.tsv")
        fs.exists(meta) && {
          val in = fs.open(meta)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          s == s"${fp._1}\t${fp._2}\tfmt$FormatVersion" &&
            // a committed table is one with EITHER manifest encoding:
            // the flat `_manifest.tsv` (single-snapshot fixtures) or
            // ≥1 versioned snapshot (`_manifest_v<N>.tsv` /
            // `_commit_v<N>/`) — the merge/delete/medallion/vacuum
            // fixtures are versioned-only, and requiring the flat
            // file made them rebuild on EVERY call (~15 s each per
            // query at sf0.1, twice per pair)
            (fs.exists(new HPath(s"$dest/_manifest.tsv")) ||
              committedVersions(fs, dest).nonEmpty)
        }
      }
      if (!fresh) {
        val t0 = System.nanoTime()
        val staging = s"${dest}_build_staging"
        fs.delete(new HPath(staging), true)
        build(fs, staging)
        fs.delete(new HPath(dest), true)
        if (!fs.rename(new HPath(staging), new HPath(dest)))
          sys.error(s"lake table commit failed: " +
            s"rename($staging -> $dest)")
        // meta LAST: the commit marker
        writeText(fs, s"$dest/_meta.tsv",
          s"${fp._1}\t${fp._2}\tfmt$FormatVersion\n")
        graft.ArtifactLog.record(s"lake:$name",
          (System.nanoTime() - t0) / 1e9)
      }
      dest
    }

  /** The orders instance: the OPTIMIZE output as a committed table. */
  def ensureTable(spark: SparkSession, dir: String): String = {
    val fp = LedgerArtifacts.fingerprint(
      ZoneMap.orders(spark, dir), Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_orders_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val filed = Optimize.rewrittenFiles(spark, dir).persist()
        try writeTable(spark, fs, staging, filed,
          Seq(("o_orderkey", "long"), ("o_custkey", "long")),
          Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
        finally filed.unpersist(false)
    }
  }

  /** The documents instance: all five corpus columns (text included),
    * id-sorted into 512-row files, zones on doc_id/n_chars, bloom on
    * doc_id. The exact-rank layout window is the fixture's oracle
    * determinism; a production writer cuts files by ingest order +
    * OPTIMIZE, as everywhere in the layout family.
    */
  def ensureDocsTable(spark: SparkSession, dir: String): String = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text"))
    val fp = LedgerArtifacts.fingerprint(
      docs.select(col("doc_id"), col("n_chars")),
      Seq("doc_id", "n_chars"))
    ensureLake(spark,
      s"lake2_documents_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val filed = docs
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("doc_id"))).cast("long"))
          .withColumn("file_id", expr("(rn - 1L) div 512L"))
          .drop("rn").persist()
        try writeTable(spark, fs, staging, filed,
          Seq(("doc_id", "long"), ("lang", "string"),
            ("source", "string"), ("n_chars", "long"),
            ("text", "string")),
          Seq("doc_id", "n_chars"), Some("doc_id"))
        finally filed.unpersist(false)
    }
  }

  /** The LINEITEM instance (q532/q533, block 95 — the r17 verdict's
    * "generalize lake types" item): a TPC-H-shaped fact table on the
    * format with the full type surface — decimal(18,2) money, DATE,
    * TIMESTAMP_NTZ, DOUBLE, INT — zones on all five ordered encodings
    * and bloom on the long key. Money is derived EXACTLY (cents =
    * floor(price·100 + 0.5), a deterministic double op both engines
    * compute bit-identically, then an integer-exact decimal), never
    * by double rounding. Layout: shipdate-sorted 512-row files — the
    * time-clustered ingest order a fact table naturally has, which is
    * what makes the q6-style date-range scan prune.
    */
  def ensureLineitemTable(spark: SparkSession, dir: String): String = {
    val li = Tables.lineitem(spark, dir)
    val fp = LedgerArtifacts.fingerprint(
      li.select(col("l_orderkey"), col("l_linenumber")),
      Seq("l_orderkey", "l_linenumber"))
    ensureLake(spark,
      s"lake2_lineitem_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val typed = li.select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast("long").as("l_quantity"),
          expr("cast(cast(floor(l_extendedprice * 100 + 0.5) as " +
            "bigint) as decimal(18,2)) / 100").cast("decimal(18,2)")
            .as("l_price"),
          col("l_discount"),
          col("l_returnflag"),
          to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_shipdate").as("l_shipts"))
        val filed = typed
          .withColumn("rn", row_number().over(Window.orderBy(
            col("l_shipts"), col("l_orderkey"), col("l_linenumber")))
            .cast("long"))
          .withColumn("file_id", expr("(rn - 1L) div 512L"))
          .drop("rn").persist()
        try writeTable(spark, fs, staging, filed,
          Seq(("l_orderkey", "long"), ("l_linenumber", "int"),
            ("l_quantity", "long"), ("l_price", "decimal(18.2)"),
            ("l_discount", "double"), ("l_returnflag", "string"),
            ("l_shipdate", "date"), ("l_shipts", "timestamp_ntz")),
          Seq("l_shipdate", "l_shipts", "l_orderkey", "l_price",
            "l_discount"),
          Some("l_orderkey"))
        finally filed.unpersist(false)
    }
  }

  /** The lineitem table through the DSv2 provider. */
  def lakeLineitemDf(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureLineitemTable(spark, dir))

  /** q532: the TPC-H Q6 shape re-served from the lake — a shipdate
    * year + discount band + quantity cap, revenue in exact integer
    * cents·basis-points (decimal money × double discount without one
    * FP accumulation), grouped per returnflag. The DATE range prunes
    * on the shipdate-sorted layout; discount/quantity stay residuals.
    * Hash-checked against DuckDB over raw lineitem.
    */
  def lakeLineitemQ6(spark: SparkSession, dir: String): DataFrame =
    lakeLineitemDf(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("l_shipdate") < lit(java.sql.Date.valueOf("1997-01-01")) &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.05 &&
        col("l_quantity") < 24)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        sum((col("l_price") * 100).cast("long") *
          floor(col("l_discount") * 10000 + 0.5).cast("long"))
          .as("rev_cents_bp"))
      .orderBy(col("l_returnflag"))

  /** q533: the typed-zone plan audit — one pushed predicate per zone
    * encoding (date range, timestamp_ntz range, decimal money band,
    * double discount band, long bloom point probe): files the
    * provider PLANS vs total, and the rows the pruned scan returns.
    * The DuckDB twin re-derives the layout and every overlap in the
    * NATIVE domain, so each encoding is cross-engine order-checked.
    */
  def lakeTypesPlanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureLineitemTable(spark, dir)
    val filesTotal = readMeta(root).files.length.toLong
    val df = lakeLineitemDf(spark, dir)
    def audit(predId: String, filters: Array[Filter],
        pred: org.apache.spark.sql.Column): (String, Long, Long, Long) =
      (predId, filesTotal, plannedFiles(root, filters),
        df.filter(pred).count())
    val d0 = java.sql.Date.valueOf("1996-01-01")
    val d1 = java.sql.Date.valueOf("1996-03-31")
    val t0 = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
    val t1 = java.time.LocalDateTime.parse("1996-03-31T23:59:59")
    val p0 = new java.math.BigDecimal("5000.00")
    val p1 = new java.math.BigDecimal("5500.00")
    // a key that exists at every SF: the max orderkey always ships
    val probeKey = Tables.lineitem(spark, dir)
      .agg(max(col("l_orderkey"))).collect()(0).getLong(0)
    type AuditRow = (String, Array[Filter], org.apache.spark.sql.Column)
    def run(specs: Seq[AuditRow]): Seq[(String, Long, Long, Long)] =
      graft.operators.Par.seq(specs) { case (id, fl, pred) =>
        audit(id, fl, pred)
      }
    val rows = run(Seq(
      ("1_date_q1", Array[Filter](
        GreaterThanOrEqual("l_shipdate", d0),
        LessThanOrEqual("l_shipdate", d1)),
        col("l_shipdate") >= lit(d0) && col("l_shipdate") <= lit(d1)),
      ("2_ts_q1", Array[Filter](
        GreaterThanOrEqual("l_shipts", t0),
        LessThanOrEqual("l_shipts", t1)),
        col("l_shipts") >= lit(t0) && col("l_shipts") <= lit(t1)),
      ("3_price_band", Array[Filter](
        GreaterThanOrEqual("l_price", p0),
        LessThanOrEqual("l_price", p1)),
        col("l_price") >= lit(p0) && col("l_price") <= lit(p1)),
      ("4_disc_band", Array[Filter](
        GreaterThanOrEqual("l_discount", 0.02),
        LessThanOrEqual("l_discount", 0.03)),
        col("l_discount") >= 0.02 && col("l_discount") <= 0.03),
      ("5_okey_bloom", Array[Filter](
        EqualTo("l_orderkey", probeKey)),
        col("l_orderkey") === probeKey)))
    rows.toDF("pred_id", "files_total", "files_planned", "n_rows")
      .orderBy(col("pred_id"))
  }

  /** The APPENDABLE orders instance with VERSIONED MANIFEST snapshots
    * (q525–q526, block 92): snapshot v0 = the order prefix (batches
    * 0–1 of the id-range split) Z-ordered; the APPEND commits batch
    * 2's rows as NEW files (Z-ordered within the tail, the q491
    * incremental-recluster discipline, under a distinct file-id
    * space) and writes snapshot v1 = v0's lines + the new ones —
    * old files are never touched, renamed, or renumbered, which is
    * the append-only contract every table format's time travel rests
    * on. `_manifest_v<N>.tsv` are the snapshots; `_manifest.tsv` is
    * the latest; a reader pins a snapshot with
    * `option("versionAsOf", n)`.
    */
  def ensureIncTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_orders_inc_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("o_orderkey", "long"), ("o_custkey", "long"))
        val zcols = Seq("o_orderkey", "o_custkey")
        val header = headerOf(cols, zcols, Some("o_orderkey"))
        val (prefix, tail) = ZoneMap.prefixTail(o)
        val v0 = writeFiles(spark, fs, staging, "data",
          ZoneMap.zorderFiles(spark, prefix), zcols, Some("o_orderkey"))
        writeText(fs, s"$staging/_manifest_v0.tsv",
          (header +: v0).mkString("", "\n", "\n"))
        // the append: tail rows as new files under a disjoint id
        // space, in their own subdir — v0's files untouched
        val appended = writeFiles(spark, fs, staging, "data_b2",
          ZoneMap.zorderFiles(spark, tail)
            .withColumn("file_id", col("file_id") + 7000000L),
          zcols, Some("o_orderkey"))
        val v1 = v0 ++ appended
        writeText(fs, s"$staging/_manifest_v1.tsv",
          (header +: v1).mkString("", "\n", "\n"))
        // snapshot v2: the DELETE (o_orderkey % 37 == 0) committed as
        // POSITIONAL deletion vectors — per affected file, the row
        // ordinals to mask, computed with the SAME row reader the
        // provider scans with (ordinal agreement by construction).
        // Data files untouched; only manifest lines gain a DV pointer
        // and the masked count.
        // per-file DV scans are independent — run them on a bounded
        // pool (each task opens its own reader and writes its own DV
        // file), keeping the build O(table/parallelism) instead of a
        // serial driver loop over every file
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        val v2 = try {
          val futures = v1.map { line =>
            pool.submit(new java.util.concurrent.Callable[String] {
              override def call(): String = {
                val f = line.split('\t')
                val ordinals = ArrayBuffer.empty[Long]
                val keys = scanKeys(s"$staging/${f(1)}", "o_orderkey")
                var i = 0L
                keys.foreach { k =>
                  if (k % 37 == 0) ordinals += i
                  i += 1
                }
                if (ordinals.isEmpty) line
                else {
                  val dvRel = s"dv_v2/file_${f(0)}.tsv"
                  writeText(fs, s"$staging/$dvRel",
                    ordinals.mkString("", "\n", "\n"))
                  (f.take(6) ++ Array(dvRel, ordinals.length.toString))
                    .mkString("\t")
                }
              }
            })
          }
          futures.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool.shutdownNow()
        writeText(fs, s"$staging/_manifest_v2.tsv",
          (header +: v2).mkString("", "\n", "\n"))
        // snapshot v3: OPTIMIZE on the format — the DV debt FOLDED:
        // live rows (prefix + tail together) re-clustered by the
        // advisor's Z-order into fresh uniform files, committed as a
        // snapshot with zero DVs. v0–v2's files stay on disk for time
        // travel until a vacuum retires them — exactly Delta/Iceberg
        // OPTIMIZE + expire_snapshots.
        val v3 = writeFiles(spark, fs, staging, "data_v3",
          ZoneMap.zorderFiles(spark, o.filter(col("o_orderkey") % 37
            =!= 0)), zcols, Some("o_orderkey"))
        writeText(fs, s"$staging/_manifest_v3.tsv",
          (header +: v3).mkString("", "\n", "\n"))
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: v3).mkString("", "\n", "\n"))
    }
  }

  /** Bootstrap an EMPTY lake table: snapshot v0 with the declared
    * schema/zones/bloom and no files — the `CREATE TABLE` the DSv2
    * write path appends into. Committed through the same staged-dir
    * rename as every snapshot.
    */
  private[graft] def createTable(fs: FileSystem, root: String,
      schema: StructType, zoneCols: Seq[String],
      bloomCol: Option[String],
      partSpec: Option[String] = None): Unit = {
    val header = s"#schema\t${schema.fields.map(f =>
      s"${f.name}:${LakeEncode.typeName(f.dataType)}").mkString(",")
      }\t${zoneCols.mkString(",")}\t${bloomCol.getOrElse("-")
      }${partSpec.fold("")(s => s"\t$s")}"
    val staging = s"$root/_staging_c_create"
    fs.delete(new HPath(staging), true)
    writeText(fs, s"$staging/manifest.tsv",
      header + "\n#props\tbatch_id=-\tversion=0\n")
    val dest = new HPath(s"$root/_commit_v0")
    if (fs.exists(dest) ||
        !fs.rename(new HPath(staging), dest))
      sys.error(s"graft-lake: createTable($root) failed — v0 exists")
  }

  /** The DSv2-WRITTEN orders instance (q534/q535, block 96): created
    * empty, then populated by three `df.write.format(lake)` APPEND
    * commits (the id-range batches, 4 hash-partitioned files each),
    * then the LAST batch REPLAYED with its original batch id — the
    * crash-retry a pipeline actually performs — which must no-op.
    * Every snapshot v0–v3 stays readable; the replay adds nothing.
    */
  def ensureWriteTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_wt_orders_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        createTable(fs, staging, StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))),
          Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
        val maxOk = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val step = (maxOk + 3) / 3
        def append(i: Int): Unit = o
          .filter(col("o_orderkey") >= i * step &&
            col("o_orderkey") < (i + 1) * step)
          .repartition(4, col("o_orderkey"))
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", staging).option("batchId", s"append-$i")
          .mode("append").save()
        (0 to 2).foreach(append)
        append(2) // the committed retry: recognized by batch id, no-op
        // compat copy (ensureLake's freshness marker checks it; the
        // reader itself resolves latest = max committed version)
        val latest = rawFileLines(fs, staging,
          committedVersions(fs, staging).lastOption)
        val header = s"#schema\to_orderkey:long,o_custkey:long" +
          s"\to_orderkey,o_custkey\to_orderkey"
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: latest).mkString("", "\n", "\n"))
    }
  }

  /** q534: the write-path audit — per snapshot of the DSv2-written
    * table: files, rows and content mass THROUGH the provider, plus
    * the total committed version count, which pins the replayed batch
    * to a NO-OP (4 versions, not 5 — one snapshot per unique batch
    * id). Row/sum parity per version is the cross-engine content
    * check on files the engine's own writer produced.
    */
  def lakeWriteAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureWriteTable(spark, dir)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(fs, root)
    val rows = vs.map { v =>
      val m = readMeta(root, Some(v))
      val r = dfForAt(spark, root, Some(v))
        .agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)))
        .collect()(0)
      (v, m.files.length.toLong, r.getLong(0), r.getLong(1),
        vs.length.toLong)
    }
    rows.toDF("version", "n_files", "n_rows", "sum_ok", "n_versions")
      .orderBy(col("version"))
  }

  /** q535: the q507 bucket probe against the DSv2-WRITTEN table —
    * zones collected by the executor writers prune the range scan,
    * and the content matches DuckDB over raw orders exactly.
    */
  def lakeWritePruned(spark: SparkSession, dir: String): DataFrame = {
    val maxCk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 16L
    dfFor(spark, ensureWriteTable(spark, dir))
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("bucket"))
  }

  /** The DAY-PARTITIONED events instance (q536/q537, block 97 — the
    * r17 verdict's "partition transforms" item): `day(ts)` declared in
    * the manifest, every file carrying one epoch-day pval, zones on
    * (ts, event_id, user_id), bloom on event_id; within each day the
    * layout is ts-ordered 256-row files. Snapshot v1 is the M3
    * replay-overwrite (`controller.js:105-118` — delete a window,
    * rewrite it) re-expressed as an ATOMIC PARTITION REPLACE: day
    * 2024-01-15's files are swapped for a replayed (dedup-cleaned)
    * set in ONE manifest commit — every other partition's lines ride
    * verbatim, which q536 pins.
    */
  def ensureEventsTable(spark: SparkSession, dir: String): String = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val fp = LedgerArtifacts.fingerprint(
      ev.select(col("event_id"), col("user_id")),
      Seq("event_id", "user_id"))
    ensureLake(spark,
      s"lake2_events_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("event_id", "long"), ("ts", "timestamp_ntz"),
          ("user_id", "long"), ("event_type", "string"),
          ("value", "double"))
        val zcols = Seq("ts", "event_id", "user_id")
        val header = headerOf(cols, zcols, Some("event_id"),
          Some("day(ts)"))
        def filedOf(df: DataFrame, idBase: Long): DataFrame = df
          .withColumn("p_day", expr("unix_date(to_date(ts))")
            .cast("long"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("p_day"))
            .orderBy(col("ts"), col("event_id"))).cast("long"))
          .withColumn("file_id",
            col("p_day") * 1000L + lit(idBase) +
              expr("(rn - 1L) div 256L"))
          .drop("rn")
        val v0 = writeFiles(spark, fs, staging, "data",
          filedOf(ev, 0L), zcols, Some("event_id"), Some("p_day"))
        writeText(fs, s"$staging/_manifest_v0.tsv",
          (header +: v0).mkString("", "\n", "\n"))
        // the replace: day D replayed without its % 13 duplicates,
        // committed as one manifest swap — old D files dropped, new
        // ones (disjoint id space, own subdir) added, everything else
        // VERBATIM
        val dayD = ReplayDay.toEpochDay
        val clean = ev.filter(
          expr("unix_date(to_date(ts))").cast("long") === dayD &&
            col("event_id") % 13 =!= 0)
        val rep = writeFiles(spark, fs, staging, "data_r1",
          filedOf(clean, 500L), zcols, Some("event_id"), Some("p_day"))
        val v1 = v0.filterNot(
          _.split('\t')(8) == dayD.toString) ++ rep
        writeText(fs, s"$staging/_manifest_v1.tsv",
          (header +: v1).mkString("", "\n", "\n"))
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: v1).mkString("", "\n", "\n"))
    }
  }

  /** The replayed partition (all fixture SFs cover January 2024). */
  private val ReplayDay = java.time.LocalDate.of(2024, 1, 15)

  /** q536: the partition-replace audit — per snapshot: files, total
    * content, day-D content, and `outside_untouched`: every non-D
    * manifest line identical across the replace. v1 must show day D
    * without its %13 replays and every other day byte-identical.
    */
  def lakePartReplace(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureEventsTable(spark, dir)
    val dayD = ReplayDay.toEpochDay
    val t0 = ReplayDay.atStartOfDay()
    val t1 = ReplayDay.plusDays(1).atStartOfDay()
    val outside0 = readMeta(root, Some(0L)).files
      .filterNot(_.pval.contains(dayD)).map(f => (f.path, f.nRows))
      .toSet
    // 4 independent snapshot aggregates — overlap them (guide §2.6)
    graft.operators.Par.seq(Seq((0L, false), (0L, true), (1L, false),
      (1L, true))) { case (v, dayOnly) =>
      val df = dfForAt(spark, root, Some(v))
      val fd = if (dayOnly)
        df.filter(col("ts") >= lit(t0) && col("ts") < lit(t1)) else df
      val r = fd.agg(count(lit(1)), sum(col("event_id"))).collect()(0)
      (v, r.getLong(0), r.getLong(1))
    }.grouped(2).toSeq.map { case Seq((v, n, s), (_, nd, sd)) =>
      val m = readMeta(root, Some(v))
      val outsideV = m.files.filterNot(_.pval.contains(dayD))
        .map(f => (f.path, f.nRows)).toSet
      (v, m.files.length.toLong, n, s, nd, sd, outsideV == outside0)
    }.toDF("version", "n_files", "n_rows", "sum_eid", "n_day_rows",
        "sum_day_eid", "outside_untouched")
      .orderBy(col("version"))
  }

  /** q537: the partition×zone plan audit at v0 — per predicate: files
    * admitted by the DECLARED PARTITION alone, files the provider
    * plans (partition ∧ zones ∧ bloom), and the rows returned. A day
    * probe prunes by partition; an event_id point probe cannot prune
    * by day but blooms to a handful; a composed day+user probe prunes
    * on both dimensions.
    */
  def lakePartPlanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureEventsTable(spark, dir)
    val m0 = readMeta(root, Some(0L))
    val filesTotal = m0.files.length.toLong
    val spec = m0.partSpec.get
    val tsType = m0.schema("ts").dataType
    def partOnly(filters: Array[Filter]): Long =
      m0.files.count(f => filters.forall(fl => f.pval.forall(pv =>
        spec.admits(tsType, pv, fl,
          v => graft.sources.lake.LakeEncode
            .toOrderedLong(tsType, v).get)))).toLong
    val df0 = dfForAt(spark, root, Some(0L))
    def ts(s: String) = java.time.LocalDateTime.parse(s)
    val maxEid = Tables.events(spark, dir)
      .agg(max(col("event_id"))).collect()(0).getLong(0)
    val maxUid = Tables.events(spark, dir)
      .agg(max(col("user_id"))).collect()(0).getLong(0)
    val specs: Seq[(String, Array[Filter], org.apache.spark.sql.Column)] =
      Seq(
        {
          val (a, b) = (ts("2024-01-10T00:00:00"),
            ts("2024-01-10T23:59:59"))
          ("1_day_one", Array[Filter](GreaterThanOrEqual("ts", a),
            LessThanOrEqual("ts", b)),
            col("ts") >= lit(a) && col("ts") <= lit(b))
        }, {
          val (a, b) = (ts("2024-01-10T00:00:00"),
            ts("2024-01-12T23:59:59"))
          ("2_days_three", Array[Filter](GreaterThanOrEqual("ts", a),
            LessThanOrEqual("ts", b)),
            col("ts") >= lit(a) && col("ts") <= lit(b))
        },
        ("3_eid_point", Array[Filter](EqualTo("event_id", maxEid)),
          col("event_id") === maxEid),
        {
          val (a, b) = (ts("2024-01-10T00:00:00"),
            ts("2024-01-10T23:59:59"))
          val hi = maxUid / 10L
          ("4_day_user", Array[Filter](GreaterThanOrEqual("ts", a),
            LessThanOrEqual("ts", b), GreaterThanOrEqual("user_id", 0L),
            LessThanOrEqual("user_id", hi)),
            col("ts") >= lit(a) && col("ts") <= lit(b) &&
              col("user_id") >= 0L && col("user_id") <= hi)
        })
    // 4 independent probe jobs — overlap them (guide §2.6)
    val rows = graft.operators.Par.seq(specs) { case (id, fl, pred) =>
      (id, filesTotal, partOnly(fl),
        plannedFilesAt(root, Some(0L), fl), df0.filter(pred).count())
    }
    rows.toDF("pred_id", "files_total", "files_part", "files_planned",
        "n_rows")
      .orderBy(col("pred_id"))
  }

  /** The RACED lake table (q538/q539, block 98 — the r17 verdict's
    * "concurrent lake writers"): from one createTable root, EIGHT
    * concurrent committers on their own threads — six DSv2 appenders
    * on pairwise-disjoint orderkey classes, one DUPLICATE of class 0
    * submitted under the same batch id (the crash-retry that arrives
    * late, after other writers advanced the trail), and one OPTIMIZE
    * folding whatever snapshot it reads while appends race it. Under
    * every interleaving: versions serialize through the claim rename
    * (ownership-verified), the duplicate lands exactly once (carried
    * batch-id set), the fold loses no racing append (RewriteFiles
    * semantics: replace only files read, re-base the swap on claim
    * loss) — so the END STATE is deterministic: every orders row
    * exactly once, 8 committed versions (v0 + 6 appends + 1 fold).
    */
  def ensureRaceTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_race_orders_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        import java.util.concurrent.{Callable, Executors, TimeUnit}
        createTable(fs, staging, StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))),
          Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
        def appendSlice(cls: Int, batchId: String): Unit = o
          .filter(col("o_orderkey") % 6 === cls)
          .repartition(2, col("o_orderkey"))
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", staging).option("batchId", batchId)
          .mode("append").save()
        val pool = Executors.newFixedThreadPool(8)
        try {
          val tasks: Seq[Callable[Unit]] =
            (0 to 5).map[Callable[Unit]] { w =>
              () => appendSlice(w, s"append-$w")
            } ++ Seq[Callable[Unit]](
              // the late duplicate: same slice, same batch id
              () => appendSlice(0, "append-0"),
              // the racing fold: retries until it commits once (the
              // claim loop re-bases; the outer retry only covers the
              // empty-table start)
              () => {
                var done = false
                while (!done)
                  done = LakeMaintain.optimize(spark, staging,
                    "optimize-fold")
              })
          val futures = tasks.map(t => pool.submit(t))
          futures.foreach(_.get(600, TimeUnit.SECONDS))
        } finally pool.shutdownNow()
        val latest = rawFileLines(fs, staging,
          committedVersions(fs, staging).lastOption)
        val header = "#schema\to_orderkey:long,o_custkey:long" +
          "\to_orderkey,o_custkey\to_orderkey"
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: latest).mkString("", "\n", "\n"))
    }
  }

  /** q538: the post-race census on the lake — writers in, committed
    * versions out (exactly 8: the duplicate no-oped), final content
    * mass conserved (every orders row exactly once: a lost append, a
    * double-applied duplicate, or a fold that dropped a racing append
    * each break a different column), and the fold provably committed.
    */
  def lakeRaceCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureRaceTable(spark, dir)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(fs, root)
    val optCommitted = vs.exists(v =>
      readMeta(root, Some(v)).props.get("batch_id")
        .contains("optimize-fold"))
    val fin = dfFor(spark, root)
      .agg(count(lit(1)), sum(col("o_orderkey")),
        countDistinct(col("o_orderkey"))).collect()(0)
    Seq((8L, vs.length.toLong, fin.getLong(0), fin.getLong(2),
        fin.getLong(1), optCommitted))
      .toDF("n_writers", "n_versions", "n_rows_final", "n_keys_final",
        "sum_ok_final", "fold_committed")
  }

  /** q539: the raced final state at FULL KEY GRAIN — deterministic
    * under every interleaving (orders, each row once). One key
    * dropped by the fold or doubled by the duplicate breaks the hash.
    */
  def lakeRaceState(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureRaceTable(spark, dir))
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy(col("o_orderkey"), col("o_custkey"))

  /** The STREAMING-SUNK lake table (q540/q541, block 99 — the r17
    * verdict's "streaming sink into the lake"): a Structured Streaming
    * drain whose `foreachBatch` APPENDS each micro-batch to the format
    * through the DSv2 write path, batch-id-keyed (`stream-<id>`) so a
    * crash-replayed micro-batch commits exactly once — the
    * VersionedLedger idempotence discipline, on the engine's own
    * table format. The fixture stages the events corpus as a 5-file
    * feed, drains it one file per trigger (5 snapshot commits), then
    * REPLAYS batch 0 through the same sink function — which must
    * no-op, and q540 pins it (6 committed versions, not 7).
    */
  def ensureStreamTable(spark: SparkSession, dir: String): String = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
    val fp = LedgerArtifacts.fingerprint(
      ev.select(col("event_id"), col("user_id")),
      Seq("event_id", "user_id"))
    ensureLake(spark,
      s"lake2_stream_events_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val feed = s"$staging/_feed"
        ev.repartition(5).write.mode("overwrite").parquet(feed)
        val table = s"$staging/table"
        createTable(fs, table, StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", org.apache.spark.sql.types
            .TimestampNTZType),
          StructField("user_id", LongType))),
          Seq("ts", "event_id"), Some("event_id"))
        def sinkBatch(batch: DataFrame, id: Long): Unit = batch
          .select(col("event_id"), col("ts"), col("user_id"))
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", table).option("batchId", s"stream-$id")
          .mode("append").save()
        val feedStream = spark.readStream
          .schema(StructType(Seq(
            StructField("event_id", LongType),
            StructField("ts", org.apache.spark.sql.types
              .TimestampNTZType),
            StructField("user_id", LongType))))
          .option("maxFilesPerTrigger", "1")
          .parquet(feed)
        // one snapshot commit per feed file: no trailing no-data batch
        StreamingOps.drain(feedStream, Some(staging), confs = Map(
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))(
          sinkBatch)
        // the crash replay: micro-batch 0 re-submitted through the
        // SAME sink function — recognized by its batch id, no-ops
        sinkBatch(spark.read.parquet(feed).limit(0), 0L)
        sinkBatch(spark.read
          .schema("event_id long, ts timestamp_ntz, user_id long")
          .parquet(feed), 0L)
        // compat copy for the freshness marker — paths re-anchored at
        // the artifact root (the table lives under table/)
        val latest = rawFileLines(fs, table,
          committedVersions(fs, table).lastOption)
          .map { l =>
            val f = l.split('\t')
            (f.take(1) ++ Array(s"table/${f(1)}") ++ f.drop(2))
              .mkString("\t")
          }
        val header = "#schema\tevent_id:long,ts:timestamp_ntz," +
          "user_id:long\tts,event_id\tevent_id"
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: latest).mkString("", "\n", "\n"))
    }
  }

  /** q540: the streaming-sink audit — committed versions (create + 5
    * micro-batch appends; the replayed batch 0 no-ops), final content
    * mass through the provider, and conservation vs the feed.
    */
  def lakeStreamAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureStreamTable(spark, dir)
    val table = s"$root/table"
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(fs, table)
    val fin = dfFor(spark, table)
      .agg(count(lit(1)), sum(col("event_id")),
        countDistinct(col("event_id"))).collect()(0)
    Seq((vs.length.toLong, fin.getLong(0), fin.getLong(2),
        fin.getLong(1)))
      .toDF("n_versions", "n_rows", "n_keys", "sum_eid")
  }

  /** q541: the streaming-sunk table vs the batch twin at USER grain —
    * per user-id bucket: events and id mass, hash-matched against
    * DuckDB over raw events (one micro-batch lost, doubled, or torn
    * breaks it).
    */
  def lakeStreamTwin(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, s"${ensureStreamTable(spark, dir)}/table")
      .groupBy((col("user_id") % 100L).as("user_bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_eid"))
      .orderBy(col("user_bucket"))

  /** SCHEMA EVOLUTION on the format (q542, block 100 — the r17
    * verdict's last item): commit a snapshot that declares a NEW
    * schema over the SAME file lines — add column (old files
    * null-backfill at read) and int→long widen (the vectorized
    * reader's IntegerToLongUpdater up-casts old int32 pages in
    * place). Data is never rewritten; every pre-evolution snapshot
    * keeps answering in ITS OWN declared schema — the q431/q432
    * widen-and-backfill discipline, manifest-native.
    */
  private[graft] def evolveSchema(fs: FileSystem, root: String,
      newSchema: StructType, batchId: String): Unit = {
    val vs = committedVersions(fs, root)
    val latest = readMeta(root, vs.lastOption)
    latest.schema.fields.foreach { f =>
      val nf = newSchema.find(_.name == f.name).getOrElse(
        sys.error(s"graft-lake: evolution drops column ${f.name} — " +
          "only additive evolution is supported"))
      require(nf.dataType == f.dataType ||
        (f.dataType == org.apache.spark.sql.types.IntegerType &&
          nf.dataType == LongType),
        s"graft-lake: illegal evolution ${f.dataType} -> " +
          s"${nf.dataType} for ${f.name} (add or int->long widen only)")
    }
    val header = s"#schema\t${newSchema.fields.map(f =>
      s"${f.name}:${LakeEncode.typeName(f.dataType)}").mkString(",")
      }\t${latest.zoneCols.mkString(",")}\t${
      latest.bloomCol.getOrElse("-")}" +
      latest.partSpec.fold("")(s => s"\t${s.render}")
    val seen = latest.props.get("batch_ids")
      .map(_.split(',').filter(_.nonEmpty).toSeq)
      .getOrElse(latest.props.get("batch_id").filter(_ != "-").toSeq)
    if (seen.contains(batchId)) return
    val nextV = (vs :+ -1L).max + 1
    val props = s"#props\tbatch_id=$batchId\tversion=$nextV" +
      s"\tbatch_ids=${((seen :+ batchId).distinct.takeRight(256))
        .mkString(",")}"
    val lines = rawFileLines(fs, root, vs.lastOption)
    val stagingDir = s"$root/_staging_c_evolve"
    fs.delete(new HPath(stagingDir), true)
    writeText(fs, s"$stagingDir/manifest.tsv",
      (Seq(header, props) ++ lines).mkString("", "\n", "\n"))
    val dest = new HPath(s"$root/_commit_v$nextV")
    if (fs.exists(dest) ||
        !fs.rename(new HPath(stagingDir), dest))
      sys.error(s"graft-lake: evolution commit of $root lost its " +
        s"version claim (single-writer evolution)")
  }

  /** The EVOLVED orders instance: created (k long, cnt int), filled
    * with the order prefix, evolved to (k long, cnt long, note
    * string), then appended under the new schema — four snapshots
    * across the boundary.
    */
  def ensureEvoTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_evo_orders_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        createTable(fs, staging, StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("cnt", org.apache.spark.sql.types.IntegerType))),
          Seq("o_orderkey"), None)
        val maxOk = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val step = (maxOk + 3) / 3
        o.filter(col("o_orderkey") < 2 * step)
          .select(col("o_orderkey"),
            col("o_custkey").cast("int").as("cnt"))
          .repartition(3, col("o_orderkey"))
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", staging).option("batchId", "pre")
          .mode("append").save()
        evolveSchema(fs, staging, StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("cnt", LongType),
          StructField("note", StringType))), "evolve")
        o.filter(col("o_orderkey") >= 2 * step)
          .select(col("o_orderkey"),
            col("o_custkey").cast("long").as("cnt"),
            concat(lit("c"), col("o_custkey")).as("note"))
          .repartition(3, col("o_orderkey"))
          .write.format(classOf[LakeTableProvider].getName)
          .option("path", staging).option("batchId", "post")
          .mode("append").save()
        val latest = rawFileLines(fs, staging,
          committedVersions(fs, staging).lastOption)
        val header = "#schema\to_orderkey:long,cnt:long,note:string" +
          "\to_orderkey\t-"
        writeText(fs, s"$staging/_manifest.tsv",
          (header +: latest).mkString("", "\n", "\n"))
    }
  }

  /** q542: the evolution audit — per snapshot ACROSS the boundary:
    * declared column count, rows, cnt mass (old int32 pages up-cast
    * where the declared type is long), and non-null notes (old files
    * null-backfill). A pre-evolution snapshot answering with 3
    * columns, or a post-evolution read dropping the backfill, breaks
    * a column.
    */
  def lakeEvolutionAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureEvoTable(spark, dir)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = committedVersions(fs, root).map { v =>
      val m = readMeta(root, Some(v))
      val df = dfForAt(spark, root, Some(v))
      val hasNote = m.schema.fieldNames.contains("note")
      val agg = df.agg(count(lit(1)),
        coalesce(sum(col("cnt").cast("long")), lit(0L)),
        if (hasNote) count(col("note")) else lit(0L).as("n"))
        .collect()(0)
      (v, m.schema.fields.length.toLong, agg.getLong(0),
        agg.getLong(1), agg.getLong(2))
    }
    rows.toDF("version", "n_cols", "n_rows", "sum_cnt", "n_notes")
      .orderBy(col("version"))
  }

  /** Stream one long column of a committed file in STORED row order —
    * the DV builder's ordinal source. Parquet row order is the stored
    * order under any reader, so these ordinals agree with the
    * provider's vectorized scan by the format's own contract.
    */
  private[lake] def scanKeys(path: String, column: String): Iterator[Long] = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.ReadSupport
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = new Configuration(hadoopConf)
    conf.set(ReadSupport.PARQUET_READ_SCHEMA,
      s"message graft_lake {\noptional int64 $column;\n}")
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new HPath(path))
      .withConf(conf).build()
    Iterator.continually(reader.read()).takeWhile { g =>
      if (g == null) reader.close()
      g != null
    }.map(_.getLong(column, 0))
  }

  /** q525: the append audit — per snapshot: files/rows, what the
    * commit added, and `history_immutable`: every v0 manifest line
    * appears VERBATIM in v1 (same path, same stats — the append
    * touched nothing it didn't write).
    */
  def lakeAppendAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    val v0 = readMeta(root, Some(0L))
    val v1 = readMeta(root, Some(1L))
    val v0Paths = v0.files.map(f => (f.path, f.nRows)).toSet
    val immutable = v0.files.map(_.path).toSet
      .subsetOf(v1.files.map(_.path).toSet) &&
      v1.files.filter(f => v0Paths.exists(_._1 == f.path))
        .forall(f => v0Paths.contains((f.path, f.nRows)))
    def rows(m: LakeMeta): Long = m.files.map(_.nRows).sum
    Seq(
      (0L, v0.files.length.toLong, rows(v0), v0.files.length.toLong,
        rows(v0), true),
      (1L, v1.files.length.toLong, rows(v1),
        (v1.files.length - v0.files.length).toLong,
        rows(v1) - rows(v0), immutable))
      .toDF("version", "n_files", "n_rows", "n_files_added",
        "n_rows_added", "history_immutable")
      .orderBy(col("version"))
  }

  /** q526: TIME TRAVEL through the provider — the same aggregate at
    * snapshot v0 (pre-append), v1 (post-append, pre-delete), and
    * latest (v2 — the %37 DELETE masked merge-on-read): v0 must
    * answer WITHOUT the appended rows, v1 WITH them and WITH the
    * later-deleted rows still visible (time travel ACROSS a delete),
    * and latest without the masked rows. One row leaking across any
    * snapshot boundary breaks the hash.
    */
  def lakeAsOfScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    def agg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("o_orderkey"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def at(v: Option[Long]): DataFrame = {
      val rd = spark.read.format(classOf[LakeTableProvider].getName)
        .option("path", root)
      v.fold(rd)(x => rd.option("versionAsOf", x.toString)).load()
    }
    // three independent snapshot scans — overlap them (guide §2.6)
    val Seq((n0, s0), (n1, s1), (nl, sl)) = graft.operators.Par.seq(
      Seq(Some(0L), Some(1L), None))(v => agg(at(v)))
    Seq(("latest", nl, sl), ("v0", n0, s0), ("v1", n1, s1))
      .toDF("snapshot", "n_rows", "sum_ok")
      .orderBy(col("snapshot"))
  }

  /** q527: the DV-delete audit on the lake table — per snapshot
    * (v1 pre-delete, v2 post-delete): files, stored rows (UNCHANGED —
    * merge-on-read stores nothing smaller), masked DV rows, live
    * rows, and how many files carry a DV. The q478 DV-debt audit
    * measured against the engine's own format instead of a
    * simulation.
    */
  def lakeDvAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    Seq(1L, 2L).map { v =>
      val m = readMeta(root, Some(v))
      (v, m.files.length.toLong, m.files.map(_.nRows).sum,
        m.files.map(_.dvRows).sum, m.files.map(_.liveRows).sum,
        m.files.count(_.dvPath.isDefined).toLong)
    }.toDF("version", "n_files", "rows_stored", "dv_rows",
        "rows_live", "files_with_dv")
      .orderBy(col("version"))
  }

  private[lake] def dfForAt(spark: SparkSession, root: String,
      version: Option[Long]): DataFrame = {
    val rd = spark.read.format(classOf[LakeTableProvider].getName)
      .option("path", root)
    version.fold(rd)(v => rd.option("versionAsOf", v.toString)).load()
  }

  /** Planned-file count for a filter set at a pinned snapshot. */
  private[graft] def plannedFilesAt(root: String, version: Option[Long],
      filters: Array[Filter]): Long = {
    val sb = new LakeScanBuilder(root, version)
    sb.pushFilters(filters)
    sb.build().asInstanceOf[LakeScan].plannedFiles.length.toLong
  }

  /** q528: a pruned aggregate through the provider PINNED AT the DV
    * snapshot (v2): the o_custkey range probe rolled into buckets
    * over LIVE rows only — zones still prune (stale-but-sound), the
    * reader masks the DV ordinals. One masked row surviving, or one
    * live row lost, breaks the hash.
    */
  def lakeDvPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val maxCk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 16L
    dfForAt(spark, ensureIncTable(spark, dir), Some(2L))
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("bucket"))
  }

  /** q529: OPTIMIZE on the format — snapshot v3 folds the DV debt:
    * stored rows shrink by exactly the masked set, DVs hit zero, the
    * live mass is unchanged, and the whole table re-clusters into
    * fresh uniform files while v0–v2 stay readable for time travel.
    * The q487 executor's audit against the engine's own format.
    */
  def lakeOptimizeSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    Seq(2L, 3L).map { v =>
      val m = readMeta(root, Some(v))
      (v, m.files.length.toLong, m.files.map(_.nRows).sum,
        m.files.map(_.dvRows).sum, m.files.map(_.liveRows).sum)
    }.toDF("version", "n_files", "rows_stored", "dv_rows", "rows_live")
      .orderBy(col("version"))
  }

  /** q530: the same probe BEFORE and AFTER the fold — identical
    * answers (one row drifting across the rewrite breaks the hash),
    * with each side's planned-file count: the v2 plan pays the
    * two-generation layout, the v3 plan reads the re-clustered one.
    */
  def lakeOptimizeScanParity(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    val maxCk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 16L
    Seq(2L, 3L).map { v =>
      val planned = plannedFilesAt(root, Some(v), Array[Filter](
        GreaterThanOrEqual("o_custkey", lo),
        LessThanOrEqual("o_custkey", hi)))
      val r = dfForAt(spark, root, Some(v))
        .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
        .agg(count(lit(1)), sum(col("o_orderkey"))).collect()(0)
      (v, planned, r.getLong(0), r.getLong(1))
    }.toDF("version", "files_planned", "n_rows", "sum_ok")
      .orderBy(col("version"))
  }

  /** EXPIRE snapshots below `keepFrom` (q531): delete their manifest
    * files and every data/DV file no RETAINED snapshot references —
    * the `expire_snapshots` half of time travel, and the point where
    * history becomes PHYSICALLY gone (a later `versionAsOf` below the
    * floor fails naming the committed range, the q429 guarantee on
    * the format). Returns (files deleted, files kept).
    */
  private[graft] def expireSnapshots(spark: SparkSession, root: String,
      keepFrom: Long): (Long, Long) = {
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = committedVersions(fs, root)
    require(snaps.contains(keepFrom),
      s"keepFrom=$keepFrom is not a committed snapshot of $root")
    val kept = snaps.filter(_ >= keepFrom)
    val referenced = kept.flatMap { v =>
      readMeta(root, Some(v)).files
        .flatMap(f => f.path +: f.dvPath.toSeq)
    }.toSet
    // walk the data/DV subdirs; delete anything unreferenced. A
    // whole GENERATION with no retained references (the usual case —
    // OPTIMIZE wrote a fresh one) drops in ONE recursive delete, the
    // batching every real vacuum does; mixed subdirs fall back to
    // per-file deletes.
    var deleted = 0L
    fs.listStatus(new HPath(root))
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("data") ||
          st.getPath.getName.startsWith("dv")))
      .foreach { d =>
        // plain listStatus walk: listFiles(recursive) materializes
        // block locations per entry, ~15 s over a few thousand local
        // files for information expiry never uses
        def walk(p: HPath): Iterator[HPath] =
          fs.listStatus(p).iterator.flatMap { st =>
            if (st.isDirectory) walk(st.getPath)
            else Iterator(st.getPath)
          }
        val rootPrefix = fs.makeQualified(new HPath(root)).toString + "/"
        val toDelete = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.Path]
        var refsUnder = 0L
        walk(d.getPath).foreach { f =>
          val rel = f.toString.stripPrefix(rootPrefix)
          if (f.getName.startsWith("_") || f.getName.startsWith(".")) ()
          else if (referenced.contains(rel)) refsUnder += 1
          else toDelete += f
        }
        if (refsUnder == 0L && toDelete.nonEmpty) {
          fs.delete(d.getPath, true)
          deleted += toDelete.length
        } else toDelete.foreach { f =>
          // checksum sidecars ride along uncounted (fs bookkeeping,
          // not data files)
          fs.delete(new HPath(f.getParent,
            s".${f.getName}.crc"), false)
          fs.delete(f, false); deleted += 1
        }
      }
    // retire the expired manifests LAST: a crash mid-delete leaves a
    // snapshot whose read fails on a missing file (detectable), never
    // a silently incomplete one presented as committed
    snaps.filter(_ < keepFrom).foreach { v =>
      fs.delete(new HPath(s"$root/_manifest_v$v.tsv"), false)
      fs.delete(new HPath(s"$root/_commit_v$v"), true)
    }
    (deleted, referenced.size.toLong)
  }

  /** A metadata-speed private replica for MUTATING maintenance
    * fixtures: manifests and meta copy verbatim; every referenced
    * data/DV file materializes as a zero-byte placeholder at its
    * manifest path. Expiry's delete logic sees exactly the real
    * table's countable file set without copying table bytes — at
    * 100 TB you never copy a table to test its vacuum; content-level
    * checks stay on the SHARED (read-only) root.
    */
  private def stubReplica(spark: SparkSession, shared: String): String = {
    val fs = new HPath(shared)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copy = graft.Caches.trackTempDir(java.nio.file.Files
      .createTempDirectory("graft_lake_expire_")).toString + "/table"
    val snaps = fs.listStatus(new HPath(shared)).map(_.getPath.getName)
      .filter(n => (n.startsWith("_manifest") || n == "_meta.tsv") &&
        n.endsWith(".tsv"))
    snaps.foreach { n =>
      val in = fs.open(new HPath(s"$shared/$n"))
      val body = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      writeText(fs, s"$copy/$n", body)
    }
    val versions = snaps.filter(_.startsWith("_manifest_v"))
      .map(_.stripPrefix("_manifest_v").stripSuffix(".tsv").toLong)
    // placeholders via nio (the replica is local by construction):
    // thousands of checksummed Hadoop creates would dominate the
    // fixture's cost for no fidelity gain
    val base = java.nio.file.Paths.get(copy)
    versions.flatMap(v => readMeta(copy, Some(v)).files
        .flatMap(f => f.path +: f.dvPath.toSeq)).distinct
      .foreach { rel =>
        val p = base.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.createFile(p)
      }
    copy
  }

  /** q531: the expiry audit — keep only the OPTIMIZE snapshot (v3):
    * every pre-fold file deletes (v3 references none of them), the
    * retained read answers identically (checked on the shared root —
    * expiry never touches retained files), and a pinned read below
    * the floor now FAILS naming the committed range. The mutation
    * runs on a metadata-speed stub replica ([[stubReplica]]).
    */
  def lakeExpireAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shared = ensureIncTable(spark, dir)
    val copy = stubReplica(spark, shared)
    val before = readMeta(copy, Some(3L)).files.length.toLong +
      readMeta(copy, Some(2L)).files.length.toLong
    val (nDeleted, nKept) = expireSnapshots(spark, copy, keepFrom = 3L)
    val live = dfForAt(spark, shared, Some(3L))
      .agg(count(lit(1))).collect()(0).getLong(0)
    val expiredFails =
      try { readMeta(copy, Some(2L)); false }
      catch { case e: RuntimeException =>
        e.getMessage.contains("no snapshot version 2") }
    Seq((3L, nDeleted, nKept, live, expiredFails, before > nKept))
      .toDF("kept_from", "n_files_deleted", "n_files_kept",
        "n_rows_live", "expired_read_fails", "history_was_larger")
  }

  private[lake] def writeText(fs: FileSystem, path: String,
      body: String): Unit = {
    val out = fs.create(new HPath(path), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private[lake] def dfFor(spark: SparkSession, root: String): DataFrame =
    spark.read.format(classOf[LakeTableProvider].getName)
      .option("path", root).load()

  /** The orders table through the DSv2 provider. */
  def lakeDf(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureTable(spark, dir))

  /** The documents table through the DSv2 provider. */
  def lakeDocsDf(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureDocsTable(spark, dir))

  /** How many files `planInputPartitions` actually plans for a filter
    * set — the provider's own planning code path, invoked directly
    * (not a parallel reimplementation).
    */
  private[graft] def plannedFiles(root: String,
      filters: Array[Filter]): Long = {
    val sb = new LakeScanBuilder(root)
    sb.pushFilters(filters)
    sb.build().asInstanceOf[LakeScan].plannedFiles.length.toLong
  }

  /** Planned-file count under a pushed LIMIT (no filters). */
  private[graft] def plannedFilesLimited(root: String,
      n: Int): Long = {
    val sb = new LakeScanBuilder(root)
    sb.pushLimit(n)
    sb.build().asInstanceOf[LakeScan].plannedFiles.length.toLong
  }

  /** Planned INPUT PARTITIONS (bin-packed splits) for a filter set —
    * what the physical scan actually launches; ≤ the planned-file
    * count by the packing discipline.
    */
  private[graft] def plannedSplits(root: String,
      filters: Array[Filter]): Long = {
    val sb = new LakeScanBuilder(root)
    sb.pushFilters(filters)
    sb.build().asInstanceOf[LakeScan].planInputPartitions().length
      .toLong
  }

  /** 1 iff `df`'s physical plan serves its aggregate from the
    * MANIFEST (a [[LakeAggScan]] batch scan — zero data files
    * opened); 0 when it fell back to an ordinary scan + aggregate.
    * Read from the plan Spark actually prepared, not re-derived.
    */
  private[graft] def aggPushed(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (plan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeAggScan] => b
    }.isDefined) 1L else 0L
  }

  /** Estimated row count the scan REPORTS to Catalyst for a filter
    * set — the provider's own statistics path (post-pruning).
    */
  private[graft] def estimatedRows(root: String,
      filters: Array[Filter]): Long = {
    val sb = new LakeScanBuilder(root)
    sb.pushFilters(filters)
    sb.build().asInstanceOf[LakeScan].estimateStatistics()
      .numRows().getAsLong
  }

  /** Estimated row count under a pushed LIMIT. */
  private[graft] def estimatedRowsLimited(root: String, n: Int): Long = {
    val sb = new LakeScanBuilder(root)
    sb.pushLimit(n)
    sb.build().asInstanceOf[LakeScan].estimateStatistics()
      .numRows().getAsLong
  }

  /** 1 iff the join Spark PLANNED for `df` is a broadcast-hash join
    * whose BUILD side contains the lake scan — the decision the
    * reported statistics exist to steer. Read from the prepared
    * physical plan, query stages expanded.
    */
  private[graft] def lakeBuildSide(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(expand)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val hit = expand(root).exists {
      case b: BroadcastHashJoinExec =>
        val side = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        expand(side).exists {
          case s: BatchScanExec => s.scan.isInstanceOf[LakeScan]
          case _ => false
        }
      case _ => false
    }
    if (hit) 1L else 0L
  }

  /** q546: the statistics audit (block 103) — what the scan REPORTS
    * (exact live rows over admitted files, post-pruning) and the join
    * decision those stats steer: a zone-pruned lake side becomes the
    * BROADCAST build side against the full raw table (without
    * reported stats a DSv2 relation defaults to effectively-infinite
    * size and can never build); a genuinely smaller other side still
    * wins the build (stats must not over-claim); a pushed limit caps
    * the estimate. DuckDB re-derives every estimate from the Z-order
    * layout frame.
    */
  def lakeStatsPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val o = ZoneMap.orders(spark, dir)
    val maxCk = o.agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 64L
    val lake = lakeDf(spark, dir)
    val rangeF = Array[Filter](GreaterThanOrEqual("o_custkey", lo),
      LessThanOrEqual("o_custkey", hi))
    val pruned = lake
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
    val j1 = pruned.join(li, col("o_orderkey") === col("l_orderkey"))
    val maxOk = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val keys = (1 to 16).map(j => j.toLong * maxOk / 17L).distinct
      .toDF("k")
    val j2 = lake.join(keys, col("o_orderkey") === col("k"))
    val rows = Seq(
      ("1_pruned", estimatedRows(root, rangeF),
        plannedFiles(root, rangeF), lakeBuildSide(j1), j1.count()),
      ("2_tiny_probe", estimatedRows(root, Array.empty),
        plannedFiles(root, Array.empty), lakeBuildSide(j2), j2.count()),
      ("3_limit", estimatedRowsLimited(root, 500),
        plannedFilesLimited(root, 500), -1L, lake.limit(500).count()))
    rows.toDF("case_id", "est_rows", "files_planned", "bcast_lake",
      "n_rows").orderBy(col("case_id"))
  }

  /** q547: the join the statistics make cheap — the zone-pruned lake
    * side broadcast against the %3 key sample of raw orders, rolled
    * into buckets; `bcast` pins the planned build side. At 100 TB
    * this is the difference between shuffling the fact table and
    * shipping a few admitted files' rows to every executor.
    */
  def lakeStatsJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = ZoneMap.orders(spark, dir)
    val maxCk = o.agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 64L
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        col("l_quantity").cast("long").as("l_quantity"))
    val pruned = lakeDf(spark, dir)
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
    val joined = pruned.join(li,
      col("o_orderkey") === col("l_orderkey"))
    val bcast = lakeBuildSide(joined)
    joined
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_li"),
        sum(col("l_quantity")).as("sum_qty"))
      .withColumn("bcast", lit(bcast))
      .orderBy(col("bucket"))
  }

  /** The MERGED orders instance (q548/q549, block 104): snapshot v0 =
    * raw orders (o_orderkey, o_custkey) id-sorted into 256-row files,
    * zones on both keys, bloom on the key; then ONE [[LakeMerge]]
    * commit — updates = every order in the [5/8·max, 5/8·max+max/64]
    * key band (custkey bumped by 1,000,000), inserts = 50 fresh keys
    * past the max — and the SAME batch replayed (must no-op).
    * Untouched files ride verbatim; only key-band-overlapping files
    * rewrite.
    */
  def ensureMergeTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_merge_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("o_orderkey", "long"), ("o_custkey", "long"))
        val zcols = Seq("o_orderkey", "o_custkey")
        val header = headerOf(cols, zcols, Some("o_orderkey"))
        val filed = o
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("o_orderkey"))).cast("long"))
          .withColumn("file_id", expr("(rn - 1L) div 256L"))
          .drop("rn").persist()
        val v0 = try writeFiles(spark, fs, staging, "data", filed,
          zcols, Some("o_orderkey"))
        finally filed.unpersist(false)
        writeText(fs, s"$staging/_manifest_v0.tsv",
          (Seq(header,
            "#props\tbatch_id=create\tversion=0\tbatch_ids=create") ++
            v0).mkString("", "\n", "\n"))
        val maxOk = o.agg(max(col("o_orderkey"))).collect()(0)
          .getLong(0)
        val mlo = 5L * maxOk / 8L
        val mhi = mlo + maxOk / 64L
        val updates = o
          .filter(col("o_orderkey") >= mlo && col("o_orderkey") <= mhi)
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000L).as("o_custkey"))
        val inserts = spark.range(1, 51)
          .select((lit(maxOk) + col("id")).as("o_orderkey"),
            col("id").as("o_custkey"))
        val src = updates.unionAll(inserts)
        val r1 = LakeMerge.merge(spark, staging, src, "o_orderkey",
          "merge_b1")
        require(r1.isDefined, "merge fixture: first merge must commit")
        // replayed batch: recognized on the trail, no-ops
        val r2 = LakeMerge.merge(spark, staging, src, "o_orderkey",
          "merge_b1")
        require(r2.isEmpty, "merge fixture: replay must no-op")
    }
  }

  /** q548: the post-merge state through the provider — custkey
    * buckets over the merged table (band rows re-bucketed by the
    * +1e6 bump, 50 inserts in). DuckDB recomputes the merge from raw
    * orders; one lost update, one doubled insert, or one replayed
    * row breaks the hash.
    */
  def lakeMergeState(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureMergeTable(spark, dir))
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_custkey")).as("sum_ck"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("bucket"))

  /** q549: the merge audit — per snapshot: files, rows, and the
    * copy-on-write delta (paths kept verbatim vs fresh). The oracle
    * re-derives the id-sorted layout, which files the key band
    * touches, and the key-sorted re-file count — a merge that
    * rewrote one untouched file, or kept one touched, breaks it.
    */
  def lakeMergeAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureMergeTable(spark, dir)
    val m0 = readMeta(root, Some(0L))
    val m1 = readMeta(root, Some(1L))
    val p0 = m0.files.map(_.path).toSet
    val kept = m1.files.count(f => p0.contains(f.path)).toLong
    Seq(
      (0L, m0.files.length.toLong, m0.files.map(_.nRows).sum, 0L, 0L),
      (1L, m1.files.length.toLong, m1.files.map(_.nRows).sum, kept,
        m1.files.length - kept))
      .toDF("version", "n_files", "n_rows", "files_kept", "files_new")
      .orderBy(col("version"))
  }

  /** Runtime file pruning (block 105, q550/q551) — the dynamic
    * file-pruning pattern on the lake format: the DIM side of a join
    * is computed FIRST and its join keys (a bounded collect — the
    * DPP assumption: a selective dimension) are pushed into the fact
    * scan as an IN probe, so `planInputPartitions` admits only files
    * whose key zones cover ≥1 dim key. At 100 TB this turns
    * "join the fact table to this week's registrations" from a full
    * fact scan into reading the handful of files the cohort's key
    * range actually lands in. The cap is the honesty guard: a dim
    * that is NOT selective must fall back to the plain shuffled join
    * rather than ship an unbounded literal list through the plan.
    */
  private[graft] def runtimePrunedFact(spark: SparkSession,
      root: String, keyCol: String, keys: Seq[Long],
      cap: Int = 100000): DataFrame = {
    require(keys.nonEmpty, "graft-lake: runtime prune needs ≥1 key")
    require(keys.length <= cap,
      s"graft-lake: runtime prune key set ${keys.length} exceeds " +
        s"$cap — use the plain join (the dim is not selective)")
    dfFor(spark, root).filter(col(keyCol).isin(keys: _*))
  }

  /** The newest-cohort dim keys: customers in the top 1/32 of the
    * key range ("most recently registered" — custkey is the
    * registration order), the selective dim side both q550 and q551
    * derive at plan time.
    */
  private def cohortKeys(spark: SparkSession,
      dir: String): Array[Long] = {
    val c = Tables.customer(spark, dir)
    val maxC = c.agg(max(col("c_custkey"))).collect()(0).getLong(0)
    val cut = 31L * maxC / 32L
    c.filter(col("c_custkey") >= cut)
      .select(col("c_custkey").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
  }

  /** q550: the runtime-prune audit — total files vs files the
    * dim-derived IN probe plans, the cohort size, and the pruned
    * fact rows. DuckDB re-derives the Z-order layout and every
    * per-key zone admission; one file planned too many or too few
    * breaks the hash.
    */
  def lakeRuntimePrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val keys = cohortKeys(spark, dir)
    val filters = Array[Filter](
      In("o_custkey", keys.map(_.asInstanceOf[Any])))
    Seq(("dim_cohort", readMeta(root).files.length.toLong,
      plannedFiles(root, filters), keys.length.toLong,
      runtimePrunedFact(spark, root, "o_custkey", keys).count()))
      .toDF("probe_id", "files_total", "files_planned", "n_keys",
        "n_rows")
  }

  /** q551: the runtime-pruned JOIN — the newest cohort's orders
    * served through the pruned fact scan, rolled up per nation.
    * Value-identical to the unpruned join (DuckDB computes it from
    * raw orders ⋈ customer), while the plan reads only admitted
    * files.
    */
  def lakeRuntimeJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val maxC = c.agg(max(col("c_custkey"))).collect()(0).getLong(0)
    val cut = 31L * maxC / 32L
    val dim = c.filter(col("c_custkey") >= cut)
      .select(col("c_custkey"), col("c_nationkey"))
    val keys = cohortKeys(spark, dir)
    val fact = runtimePrunedFact(spark,
      ensureTable(spark, dir), "o_custkey", keys)
    fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("nation"))
  }

  /** An incremental (changes-since) provider read — files added
    * after snapshot `from`, optionally pinned at `to`.
    */
  private[graft] def dfChangesFrom(spark: SparkSession, root: String,
      from: Long, to: Option[Long] = None): DataFrame = {
    val rd = spark.read.format(classOf[LakeTableProvider].getName)
      .option("path", root).option("changesFrom", from.toString)
    to.fold(rd)(v => rd.option("versionAsOf", v.toString)).load()
  }

  /** q556: the changes-since audit on the DSv2-written table — for
    * each from-version, the NEW rows (files added after it) and
    * their content mass; the id-range batch layout lets DuckDB
    * re-derive every delta from raw orders. The consumer pattern
    * "process what landed since my last run" as a metadata-priced
    * manifest diff.
    */
  def lakeChangesAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureWriteTable(spark, dir)
    (0L to 2L).map { v =>
      val r = dfChangesFrom(spark, root, v)
        .agg(count(lit(1)), sum(col("o_orderkey"))).collect()(0)
      (v, r.getLong(0), r.getLong(1))
    }.toDF("from_version", "n_rows_new", "sum_ok_new")
      .orderBy(col("from_version"))
  }

  /** q557: the incremental-read decision matrix on the versioned inc
    * table — an APPEND range serves exactly the appended tail; a
    * DV-only range serves NOTHING (deletes attach to existing files;
    * the change-feed family carries delete deltas); a range spanning
    * the OPTIMIZE rewrite is REFUSED (rewritten rows are not new
    * data — serving them would double-count).
    */
  def lakeChangesMatrix(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureIncTable(spark, dir)
    def attempt(from: Long, to: Long): (Long, Long) =
      try (dfChangesFrom(spark, root, from, Some(to)).count(), 0L)
      catch {
        case e: Throwable if Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => Option(t.getMessage)
            .exists(_.contains("append-only"))) => (-1L, 1L)
      }
    val c1 = attempt(0L, 1L)
    val c2 = attempt(1L, 2L)
    val c3 = attempt(0L, 3L)
    Seq(("1_append", c1._1, c1._2), ("2_dv_only", c2._1, c2._2),
      ("3_rewrite", c3._1, c3._2))
      .toDF("case_id", "n_rows_new", "refused")
      .orderBy(col("case_id"))
  }

  /** Drain a lake streaming read to completion, checkpointed under
    * `root`, folding count + key mass driver-side; returns (rows,
    * sumKeys, microBatches).
    */
  private def drainLake(df: DataFrame,
      root: String): (Long, Long, Long) = {
    var nRows = 0L
    var keyMass = 0L
    var nBatches = 0L
    StreamingOps.drain(df, Some(root)) { (b, _) =>
      val r = b.agg(count(lit(1)), sum(col("o_orderkey"))).collect()(0)
      nRows += r.getLong(0)
      if (!r.isNullAt(1)) keyMass += r.getLong(1)
      nBatches += 1
    }
    (nRows, keyMass, nBatches)
  }

  /** q558: the lake as a STREAMING SOURCE — a `readStream` over the
    * DSv2-written table drains every committed append exactly once
    * (offsets are snapshot versions); the drained mass equals the
    * batch read, DuckDB-checked against raw orders.
    */
  def lakeStreamSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureWriteTable(spark, dir)
    val cpRoot = graft.Caches.trackTempDir(java.nio.file.Files
      .createTempDirectory("graft_lake_src_")).toString
    val stream = spark.readStream
      .format(classOf[LakeTableProvider].getName)
      .option("path", root).load()
    val (rows, sumOk, batches) = drainLake(stream, cpRoot)
    Seq((rows, sumOk, if (batches >= 1L) 1L else 0L))
      .toDF("n_rows", "sum_ok", "drained")
  }

  /** q559: checkpointed RESUME on the lake source — phase 1 drains
    * the first id-range batch; a second append lands; phase 2 (same
    * checkpoint) serves ONLY the delta — the exactly-once consumer
    * loop, stream-in/stream-out on one format. The scenario runs on
    * a per-run temp root (the shared fixtures stay immutable);
    * both phases' masses re-derive from raw orders.
    */
  def lakeStreamResume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = ZoneMap.orders(spark, dir)
    val maxOk = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val step = (maxOk + 3) / 3
    val base = graft.Caches.trackTempDir(java.nio.file.Files
      .createTempDirectory("graft_lake_resume_")).toString
    val root = s"$base/table"
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    createTable(fs, root, StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType))),
      Seq("o_orderkey", "o_custkey"), Some("o_orderkey"))
    def append(pred: org.apache.spark.sql.Column, id: String): Unit =
      o.filter(pred).repartition(2, col("o_orderkey"))
        .write.format(classOf[LakeTableProvider].getName)
        .option("path", root).option("batchId", id)
        .mode("append").save()
    append(col("o_orderkey") < step, "rs-b0")
    def stream = spark.readStream
      .format(classOf[LakeTableProvider].getName)
      .option("path", root).load()
    val p1 = drainLake(stream, base)
    append(col("o_orderkey") >= step, "rs-b1")
    val p2 = drainLake(stream, base)
    Seq((1L, p1._1, p1._2), (2L, p2._1, p2._2))
      .toDF("phase", "n_rows", "sum_ok")
      .orderBy(col("phase"))
  }

  /** The DELETE-FROM instance (q560/q561, block 110): snapshot v0 =
    * raw orders id-sorted into 256-row files; then TWO overlapping
    * [[LakeDelete]] range deletes — the second extends the first's
    * vectors on their shared files (the DV union) and masks fresh
    * rows beyond them — and the second batch REPLAYED (must no-op).
    */
  def ensureDeleteTable(spark: SparkSession, dir: String): String = {
    val o = ZoneMap.orders(spark, dir)
    val fp = LedgerArtifacts.fingerprint(o,
      Seq("o_orderkey", "o_custkey"))
    ensureLake(spark,
      s"lake2_del_${LedgerArtifacts.dirKey(dir)}", fp) {
      (fs, staging) =>
        val cols = Seq(("o_orderkey", "long"), ("o_custkey", "long"))
        val zcols = Seq("o_orderkey", "o_custkey")
        val header = headerOf(cols, zcols, Some("o_orderkey"))
        val filed = o
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("o_orderkey"))).cast("long"))
          .withColumn("file_id", expr("(rn - 1L) div 256L"))
          .drop("rn").persist()
        val v0 = try writeFiles(spark, fs, staging, "data", filed,
          zcols, Some("o_orderkey"))
        finally filed.unpersist(false)
        writeText(fs, s"$staging/_manifest_v0.tsv",
          (Seq(header,
            "#props\tbatch_id=create\tversion=0\tbatch_ids=create") ++
            v0).mkString("", "\n", "\n"))
        val maxOk = o.agg(max(col("o_orderkey"))).collect()(0)
          .getLong(0)
        val a0 = 3L * maxOk / 8L
        require(LakeDelete.deleteRange(spark, staging, "o_orderkey",
          a0, a0 + maxOk / 32L, "del-a").isDefined)
        require(LakeDelete.deleteRange(spark, staging, "o_orderkey",
          a0 + maxOk / 64L, a0 + maxOk / 16L, "del-b").isDefined)
        require(LakeDelete.deleteRange(spark, staging, "o_orderkey",
          a0 + maxOk / 64L, a0 + maxOk / 16L, "del-b").isEmpty,
          "delete fixture: replay must no-op")
    }
  }

  /** q560: the DELETE audit — per snapshot: files carrying a DV,
    * masked rows, live rows; `versions_committed` pins the replay
    * no-op. The id-sorted layout lets DuckDB re-derive which files
    * each range touches and the union of the two vectors.
    */
  def lakeDeleteAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureDeleteTable(spark, dir)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nVersions = committedVersions(fs, root).length.toLong
    (0L to 2L).map { v =>
      val m = readMeta(root, Some(v))
      (v, m.files.count(_.dvPath.isDefined).toLong,
        m.files.map(_.dvRows).sum, m.files.map(_.liveRows).sum,
        nVersions)
    }.toDF("version", "files_with_dv", "dv_rows", "rows_live",
        "versions_committed")
      .orderBy(col("version"))
  }

  /** q561: the post-delete state through the provider — bucket
    * rollup over live rows at the latest snapshot; one row masked
    * too many or too few (or a replayed vector re-applied) breaks
    * the cross-engine hash.
    */
  def lakeDeleteState(spark: SparkSession, dir: String): DataFrame =
    dfFor(spark, ensureDeleteTable(spark, dir))
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("bucket"))

  /** q544: the manifest-served aggregate (block 102) — COUNT plus
    * MIN/MAX over four zone encodings (long key, date, decimal
    * money, double discount) on the typed lineitem instance, all
    * answered WITHOUT opening a data file (`agg_pushed` pins the
    * physical plan; the spec additionally pins zero input files).
    * Values in exact integer domains (epoch days, cents, basis
    * points); DuckDB recomputes each from raw lineitem, so one bad
    * manifest extremum — or a decode drift in any typed zone
    * encoding — breaks the hash.
    */
  def lakeAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val df = lakeLineitemDf(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      datediff(min(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("min_ship_day"),
      datediff(max(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("max_ship_day"),
      (min(col("l_price")) * 100).cast("long").as("min_price_cents"),
      (max(col("l_price")) * 100).cast("long").as("max_price_cents"),
      min(col("l_orderkey")).as("min_ok"),
      max(col("l_orderkey")).as("max_ok"),
      floor(min(col("l_discount")) * 10000 + 0.5).cast("long")
        .as("min_disc_bp"),
      floor(max(col("l_discount")) * 10000 + 0.5).cast("long")
        .as("max_disc_bp"))
    df.withColumn("agg_pushed", lit(aggPushed(df)))
  }

  /** q545: the aggregate-pushdown DECISION MATRIX — when the manifest
    * may answer and when it must not: COUNT over a DV-carrying
    * snapshot pushes (live = stored − DV cardinality, both manifest
    * fields); MIN over the same snapshot must NOT (the DV could mask
    * the extreme row) and falls back to the masked scan; clean-table
    * MIN/MAX pushes; a filtered or grouped aggregate never pushes
    * (file-grain admission is approximate — a pushed answer could be
    * wrong). Every `val` is recomputed by DuckDB from raw orders /
    * lineitem, so the fallback paths are value-checked too.
    */
  def lakeAggMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val incRoot = ensureIncTable(spark, dir)
    val dv = dfForAt(spark, incRoot, Some(2L))
    val li = lakeLineitemDf(spark, dir)
    def one(df: DataFrame): (Long, Long) =
      (aggPushed(df), df.collect()(0).getLong(0))
    // 5 independent decision-matrix jobs — overlap them (guide §2.6)
    val grouped = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    val cases = graft.operators.Par.seq(
      Seq[() => (Long, Long)](
        () => one(dv.agg(count(lit(1)))),
        () => one(dv.agg(min(col("o_orderkey")))),
        () => one(li.agg(max(col("l_orderkey")))),
        () => one(li.filter(col("l_quantity") < 10)
          .agg(count(lit(1)))),
        () => (aggPushed(grouped), grouped.count())))(_.apply())
    Seq("1_count_dv", "2_min_dv", "3_max_clean", "4_filtered",
      "5_grouped").zip(cases)
      .map { case (id, (p, v)) => (id, p, v) }
      .toDF("case_id", "pushed", "val")
      .orderBy(col("case_id"))
  }

  /** q507: a pruned aggregate THROUGH the provider — the o_custkey
    * range probe (the workload's k=1 custkey predicate) grouped into
    * buckets. The result hash-matches the full-scan twin (DuckDB over
    * raw orders, %37 folded) while the plan reads only admitted files
    * — correctness of the pruned read path, end to end.
    */
  def lakePrunedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val maxCk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val lo = 3L * maxCk / 8L
    val hi = lo + maxCk / 16L
    lakeDf(spark, dir)
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
      .groupBy((col("o_custkey") % 8L).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_ok"))
      .orderBy(col("bucket"))
  }

  /** q508: the plan audit — for every workload predicate, how many
    * files the provider PLANS (its planInputPartitions, invoked on
    * the committed manifest) vs the table total, and the rows the
    * pruned scan returns. The q440/q487 audit numbers, now measured
    * against the engine's own read path instead of a simulation.
    */
  def lakePlanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val filesTotal = readMeta(root).files.length.toLong
    val preds = ZoneMap.predicates(spark,
      ZoneMap.orders(spark, dir)).collect()
    // the per-predicate audits are independent jobs — overlap them
    // (guide §2.6); results keep input order, so the output is
    // unchanged
    val out = graft.operators.Par.seq(preds.toSeq) { p =>
      val predId = p.getAs[String]("pred_id")
      val predCol = p.getAs[String]("pred_col")
      val lo = p.getAs[Long]("lo")
      val hi = p.getAs[Long]("hi")
      val planned = plannedFiles(root, Array[Filter](
        GreaterThanOrEqual(predCol, lo), LessThanOrEqual(predCol, hi)))
      val nRows = lakeDf(spark, dir)
        .filter(col(predCol) >= lo && col(predCol) <= hi).count()
      (predId, predCol, lo, hi, filesTotal, planned, nRows)
    }
    out.toDF("pred_id", "pred_col", "lo", "hi", "files_total",
        "files_planned", "n_rows")
      .orderBy(col("pred_id"))
  }

  /** q509: bloom point probes — 8 deterministic keys spread across the
    * key range (some present, some absent: the %37-folded keys and the
    * gaps in the sparse orderkey space). Per probe: files admitted by
    * zones alone, files admitted by zones+bloom (the EqualTo path),
    * and the rows actually found. Bloom admission is exact integer
    * arithmetic, so DuckDB recomputes every bit.
    */
  def lakeBloomProbes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val maxOk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    // 8 independent probe jobs — overlap them (guide §2.6)
    val rows = graft.operators.Par.seq(1L to 8L) { j =>
      val key = j * maxOk / 9L
      val zoned = plannedFiles(root, Array[Filter](
        GreaterThanOrEqual("o_orderkey", key),
        LessThanOrEqual("o_orderkey", key)))
      val bloomed = plannedFiles(root,
        Array[Filter](EqualTo("o_orderkey", key)))
      val nRows = lakeDf(spark, dir)
        .filter(col("o_orderkey") === key).count()
      (j, key, zoned, bloomed, nRows)
    }
    rows.toDF("probe_id", "probe_key", "files_zone", "files_bloom",
        "n_rows")
      .orderBy(col("probe_id"))
  }

  /** q521: the IN-probe plan audit — a batch of 8 point keys pushed
    * as ONE `In` filter: the provider plans the UNION of each key's
    * bloom-admitted files (the point-lookup-batch pattern a feature
    * store issues), and the scan returns exactly the present keys.
    */
  def lakeInProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val maxOk = ZoneMap.orders(spark, dir)
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val keys = (1L to 8L).map(j => j * maxOk / 9L)
    val planned = plannedFiles(root,
      Array[Filter](In("o_orderkey", keys.map(_.asInstanceOf[Any])
        .toArray)))
    val nRows = lakeDf(spark, dir)
      .filter(col("o_orderkey").isin(keys: _*)).count()
    Seq((keys.length.toLong, planned,
        readMeta(root).files.length.toLong, nRows))
      .toDF("n_probe_keys", "files_planned", "files_total", "n_rows")
  }

  /** q522: the LIMIT pushdown audit — per limit, the provider plans
    * only a row-covering file-id prefix (a `df.limit(k)` preview
    * never opens the table's tail), and returns at least the limit.
    */
  def lakeLimitAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureTable(spark, dir)
    val filesTotal = readMeta(root).files.length.toLong
    graft.operators.Par.seq(Seq(100, 1000, 10000)) { k =>
      val planned = plannedFilesLimited(root, k)
      val nRows = lakeDf(spark, dir).limit(k).count()
      (k.toLong, planned, filesTotal, nRows)
    }.toDF("limit", "files_planned", "files_total", "n_rows")
      .orderBy(col("limit"))
  }

  /** q523: the DOCUMENTS instance, pruned and projected — a doc_id
    * range probe rolled up per source, including a string column and
    * a text-length sum (the wide column decoded only because it is
    * asked for). Schema-generality of the format, hash-checked
    * against raw `documents`.
    */
  def lakeDocsPruned(spark: SparkSession, dir: String): DataFrame = {
    val maxId = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val lo = 3L * maxId / 8L
    val hi = lo + maxId / 16L
    lakeDocsDf(spark, dir)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(length(col("text"))).as("n_text_chars"))
      .orderBy(col("source"))
  }

  /** q524: the documents plan audit — 4 doc_id range probes against
    * the id-sorted 512-row layout: planned files vs total, rows
    * returned. Near-perfect pruning is the point of the id-sorted
    * layout (each file spans one contiguous id range).
    */
  def lakeDocsPlanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = ensureDocsTable(spark, dir)
    val filesTotal = readMeta(root).files.length.toLong
    val maxId = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    graft.operators.Par.seq(0L to 3L) { k =>
      val lo = (2L * k + 1L) * maxId / 8L
      val hi = lo + maxId / 16L
      val planned = plannedFiles(root, Array[Filter](
        GreaterThanOrEqual("doc_id", lo), LessThanOrEqual("doc_id", hi)))
      val nRows = lakeDocsDf(spark, dir)
        .filter(col("doc_id") >= lo && col("doc_id") <= hi).count()
      (k, lo, hi, filesTotal, planned, nRows)
    }.toDF("pred_id", "lo", "hi", "files_total", "files_planned",
        "n_rows")
      .orderBy(col("pred_id"))
  }
}
