package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Lifecycle, Sessionize}
import graft.streaming.StreamingOps

/** Round-12 ops/reliability-family specs (q290–q299): the sweep-line
  * concurrency identities, the Kaplan-Meier partition/monotonicity
  * laws, a driver-side replay of the CUSUM recursion against the
  * closed-form windows, and planted-fixture orphan/skew audits.
  */
class Wave11Spec extends SparkSpec {

  private def tmpDir(tag: String): String =
    SparkSpec.tempDir(tag).toString

  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  private def dropLatestCommit(stateRoot: String): Unit = {
    val commits = new java.io.File(s"$stateRoot/_checkpoint/commits")
    val latest = commits.listFiles()
      .filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete $latest")
    new java.io.File(commits, s".${latest.getName}.crc").delete()
  }

  private def splitEvents(root: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .orderBy(col("event_id"))
    val rows = df.collect()
    val schema = df.schema
    val t0 = System.currentTimeMillis() - 600000L
    val per = (rows.length + 2) / 3
    (0 until 3).foreach { part =>
      val slice = rows.slice(part * per,
        math.min((part + 1) * per, rows.length))
      val tmp = s"$root/_w"
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath)
      target.setLastModified(t0 + part * 2000L)
      rmrf(tmp)
    }
  }

  private def streamTwinMatchesBatch(tag: String,
      batchDf: => org.apache.spark.sql.DataFrame,
      streamDf: (String, String) => org.apache.spark.sql.DataFrame)
      : Unit = {
    // compare doubles at the oracle gate's 9-decimal precision: FP
    // folds (e.g. the q343 stationary sums) may differ in the last
    // ulp between the batch plan and the drained-state plan
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case d: Double => math.rint(d * 1e9) / 1e9
        case v => v
      }).toSeq
    val batch = rows(batchDf)
    Caches.releaseAll(spark)
    val root = tmpDir(s"graft_${tag}_")
    val stateRoot = s"$root/store"
    try {
      splitEvents(root)
      def run() = {
        val r = rows(streamDf(s"$root/stream", stateRoot))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, s"$tag: 3-way split diverged from batch")
      dropLatestCommit(stateRoot)
      assert(run() == batch, s"$tag: crash-replayed batch diverged")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q295: a 3-file split drains to the exact q291 survival " +
    "table, and a crash-replayed batch leaves the span merge intact") {
    streamTwinMatchesBatch("survival",
      Lifecycle.survivalHazard(spark, sfDir),
      (src, st) => StreamingOps.streamingSurvival(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q296: a 3-file split drains to the exact q292 CUSUM table, " +
    "and a crash-replayed batch is not re-summed into the counts") {
    streamTwinMatchesBatch("cusum",
      Lifecycle.cusumShift(spark, sfDir),
      (src, st) => StreamingOps.streamingCusum(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q298: a 3-file time-ordered split drains to the exact q290 " +
    "concurrency curve (sessions spanning batch boundaries keep " +
    "their endpoints), and a crash-replayed batch diverges nothing") {
    streamTwinMatchesBatch("concurrency",
      Sessionize.sessionConcurrency(spark, sfDir),
      (src, st) => StreamingOps.streamingConcurrency(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  private def splitDocs(root: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .orderBy(col("doc_id"))
    val rows = df.collect()
    val schema = df.schema
    val t0 = System.currentTimeMillis() - 600000L
    val per = (rows.length + 2) / 3
    (0 until 3).foreach { part =>
      val slice = rows.slice(part * per,
        math.min((part + 1) * per, rows.length))
      val tmp = s"$root/_w"
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath)
      target.setLastModified(t0 + part * 2000L)
      rmrf(tmp)
    }
  }

  private def docsTwinMatchesBatch(tag: String,
      batchDf: => org.apache.spark.sql.DataFrame,
      streamDf: (String, String) => org.apache.spark.sql.DataFrame)
      : Unit = {
    // doubles (entropy/perplexity/hhi) may fold in a different order
    // between the batch plan and the drained-state plan — compare at
    // the oracle gate's 9-decimal precision (counts stay exact longs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map {
        case d: Double => math.rint(d * 1e9) / 1e9
        case v => v
      }).toSeq
    val batch = rows(batchDf)
    Caches.releaseAll(spark)
    val root = tmpDir(s"graft_${tag}_")
    val stateRoot = s"$root/store"
    try {
      splitDocs(root)
      def run() = {
        val r = rows(streamDf(s"$root/stream", stateRoot))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, s"$tag: 3-way split diverged from batch")
      dropLatestCommit(stateRoot)
      assert(run() == batch, s"$tag: crash-replayed batch re-summed")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q306: a 3-file split drains to the exact q305 entropy-rate " +
    "table, and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("bigent",
      graft.operators.TextOps.bigramEntropyRate(spark, sfDir),
      (src, st) => StreamingOps.streamingBigramEntropy(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q308: a 3-file split drains to the exact q307 Simpson table, " +
    "and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("simpson",
      graft.operators.TextOps.simpsonDiversity(spark, sfDir),
      (src, st) => StreamingOps.streamingSimpson(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q310: a 3-file split drains to the exact q184 Count-Min " +
    "audit, and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("cms",
      graft.operators.TextOps.countMinHeavyHitters(spark, sfDir),
      (src, st) => StreamingOps.streamingCountMin(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q312: a 3-file split drains to the exact q173 entropy table, " +
    "and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("entropy",
      graft.operators.TextOps.corpusEntropy(spark, sfDir),
      (src, st) => StreamingOps.streamingCorpusEntropy(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q314: a 3-file id-ordered split drains to the exact q205 " +
    "Heaps curve (positions carry across batches via the offset " +
    "ledger), and a crash-replayed batch neither shifts positions " +
    "nor double-counts the offset") {
    docsTwinMatchesBatch("heaps",
      graft.operators.TextOps.heapsLaw(spark, sfDir),
      (src, st) => StreamingOps.streamingHeaps(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q305/q307/q309 invariants: entropy rate is non-negative and " +
    "bounded by ln(contexts'), HHI in (0,1], effective vocab <= " +
    "n_terms, confusion shares partition each language") {
    import graft.operators.TextOps
    TextOps.bigramEntropyRate(spark, sfDir).collect().foreach { r =>
      val h = r.getDouble(4)
      assert(h >= -1e-12, s"${r.getString(0)}: negative entropy $h")
      // H(next|prev) <= ln(#distinct pairs) is a loose but safe bound
      assert(h <= math.log(r.getLong(3).toDouble) + 1e-9)
      assert(math.abs(math.exp(h) - r.getDouble(5)) < 1e-9)
    }
    TextOps.simpsonDiversity(spark, sfDir).collect().foreach { r =>
      val hhi = r.getDouble(3)
      assert(hhi > 0.0 && hhi <= 1.0)
      assert(r.getDouble(4) <= r.getLong(2).toDouble + 1e-9,
        s"${r.getString(0)}: effective vocab above n_terms")
    }
    val conf = TextOps.langIdConfusion(spark, sfDir).collect()
    conf.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9,
        s"$lang: shares do not partition")
      assert(rows.map(_.getLong(2)).sum == rows.head.getLong(3))
    }
  }

  test("q300: a 3-file split drains to the exact q273 growth split, " +
    "and a crash-replayed batch leaves the distinct merge unchanged") {
    streamTwinMatchesBatch("growth",
      Lifecycle.growthAccounting(spark, sfDir),
      (src, st) => StreamingOps.streamingGrowth(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q303: a 3-file split drains to the exact q299 Gini rows, " +
    "and a crash-replayed batch is not re-summed into the stats") {
    streamTwinMatchesBatch("gini",
      Audit.activityGini(spark, sfDir),
      (src, st) => StreamingOps.streamingGini(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q304: Lorenz shares are monotone, end at exactly 1.0, and " +
    "the final cumulative mass equals q299's total") {
    val lorenz = Audit.lorenzDeciles(spark, sfDir).collect()
    val gini = Audit.activityGini(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    lorenz.groupBy(_.getString(0)).foreach { case (entity, rows) =>
      val byDec = rows.sortBy(_.getLong(1))
      assert(byDec.map(_.getLong(1)).toSeq == (1L to 10L))
      byDec.sliding(2).foreach { w =>
        assert(w(0).getDouble(4) <= w(1).getDouble(4) + 1e-12,
          s"$entity: share not monotone")
        assert(w(0).getLong(3) <= w(1).getLong(3))
      }
      assert(math.abs(byDec.last.getDouble(4) - 1.0) < 1e-12,
        s"$entity: last share ${byDec.last.getDouble(4)}")
      assert(byDec.last.getLong(3) == gini(entity),
        s"$entity: cum_value(10) != q299 total")
    }
  }

  private def splitLineitem(root: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    val rows = df.collect()
    val schema = df.schema
    val t0 = System.currentTimeMillis() - 600000L
    val per = (rows.length + 2) / 3
    (0 until 3).foreach { part =>
      val slice = rows.slice(part * per,
        math.min((part + 1) * per, rows.length))
      val tmp = s"$root/_w"
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath)
      target.setLastModified(t0 + part * 2000L)
      rmrf(tmp)
    }
  }

  private def lineitemTwinMatchesBatch(tag: String,
      batchDf: => org.apache.spark.sql.DataFrame,
      streamDf: (String, String) => org.apache.spark.sql.DataFrame)
      : Unit = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case d: Double => math.rint(d * 1e9) / 1e9
        case v => v
      }).toSeq
    val batch = rows(batchDf)
    Caches.releaseAll(spark)
    val root = tmpDir(s"graft_${tag}_")
    val stateRoot = s"$root/store"
    try {
      splitLineitem(root)
      def run() = {
        val r = rows(streamDf(s"$root/stream", stateRoot))
        Caches.releaseAll(spark)
        r
      }
      assert(run() == batch, s"$tag: 3-way split diverged from batch")
      dropLatestCommit(stateRoot)
      assert(run() == batch, s"$tag: crash-replayed batch diverged")
    } finally { Caches.releaseAll(spark); rmrf(root) }
  }

  test("q320: a 3-file lineitem split drains to the exact Q1 pricing " +
    "summary, and a crash-replayed batch is not re-summed") {
    lineitemTwinMatchesBatch("pricing",
      graft.operators.Analytics.pricingSummary(spark, sfDir),
      (src, st) => StreamingOps.streamingPricingSummary(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q324: a 3-file lineitem split drains to the exact Q4 late " +
    "audit (distinct-merge absorbs the replay), and a crash-replayed " +
    "batch changes nothing") {
    lineitemTwinMatchesBatch("lateaudit",
      graft.operators.Analytics.latePriority(spark, sfDir),
      (src, st) => StreamingOps.streamingLatePriority(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q329: a 3-file events split drains to the exact q328 OHLC " +
    "table, and a crash-replayed batch is not re-merged") {
    streamTwinMatchesBatch("ohlc",
      Lifecycle.ohlcDaily(spark, sfDir),
      (src, st) => StreamingOps.streamingOhlc(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q325-q328 invariants: recall non-increasing over the decile " +
    "sweep with confusion quadrants partitioning the corpus, kappa " +
    "in [-1,1], every LPA community label is a graph node, and " +
    "low <= open/close <= high") {
    import graft.operators.{Analytics, QualityModel}
    val sweep = QualityModel.nbPrSweep(spark, sfDir).collect()
    assert(sweep.length == 9)
    val total = sweep.head.getLong(2) + sweep.head.getLong(3) +
      sweep.head.getLong(4) + sweep.head.getLong(5)
    sweep.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5)
        == total, "quadrants must partition the corpus at every cut")
    }
    sweep.sliding(2).foreach(w =>
      assert(w(0).getDouble(7) >= w(1).getDouble(7) - 1e-12,
        "recall must not increase as the threshold rises"))
    QualityModel.kappaAgreement(spark, sfDir).collect().foreach { r =>
      assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9,
        s"${r.getString(0)}: kappa out of range")
    }
    val lpa = Analytics.labelPropagation(spark, sfDir).collect()
    val nodes = lpa.map(_.getLong(0)).toSet
    lpa.foreach(r => assert(nodes.contains(r.getLong(1)),
      "community label must be a node of the graph"))
    Lifecycle.ohlcDaily(spark, sfDir).collect().foreach { r =>
      val (open, high, low, close) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(low <= open && open <= high)
      assert(low <= close && close <= high)
      assert(r.getLong(2) > 0L)
    }
  }

  test("q331: a 3-file split drains to the exact q330 distinctive " +
    "terms, and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("distinctive",
      graft.operators.TextOps.distinctiveTerms(spark, sfDir),
      (src, st) => StreamingOps.streamingDistinctiveTerms(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q330/q332/q334 invariants: every source gets exactly 5 ranked " +
    "terms, Jaccard is symmetric-complete in (0,1], and Benford " +
    "shares partition each entity") {
    import graft.operators.TextOps
    val dt = TextOps.distinctiveTerms(spark, sfDir).collect()
    dt.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L),
        s"$src: ranks must be 1..5")
    }
    val vj = TextOps.vocabJaccard(spark, sfDir).collect()
    val sources = vj.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.length
    assert(vj.length == sources * (sources - 1) / 2,
      "one row per unordered source pair")
    vj.foreach { r =>
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)))
    }
    val bf = TextOps.benfordAudit(spark, sfDir).collect()
    bf.groupBy(_.getString(0)).foreach { case (entity, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9,
        s"$entity: shares must partition")
      assert(rows.map(_.getLong(1)).forall(d => d >= 1 && d <= 9))
    }
  }

  test("q337: a 3-file split drains to the exact q336 WOE table, " +
    "and a crash-replayed batch is not re-summed") {
    docsTwinMatchesBatch("woe",
      graft.operators.QualityModel.woeIv(spark, sfDir),
      (src, st) => StreamingOps.streamingWoe(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q335/q338/q339 invariants: balanced classes are exactly " +
    "min-size each, the stationary vector sums to 1 with mass only " +
    "on live types, converters never exceed users and cells cover " +
    "every user") {
    import graft.operators.{QualityModel, Sessionize, TextOps}
    val bal = TextOps.balancedSample(spark, sfDir).collect()
    val perClass = bal.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perClass.values.toSet.size == 1, "all classes same size")
    val classCounts = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy(col("lang")).count().collect()
      .map(_.getLong(1))
    assert(perClass.values.head.toLong == classCounts.min)
    val mk = Sessionize.markovStationary(spark, sfDir).collect()
    assert(math.abs(mk.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    mk.foreach(r => assert(r.getDouble(2) >= 0.0))
    val sc = Lifecycle.segmentConversion(spark, sfDir).collect()
    sc.foreach(r => assert(r.getLong(4) <= r.getLong(3)))
    val nUsers = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id")).distinct().count()
    assert(sc.map(_.getLong(3)).sum == nUsers,
      "RFM cells must cover every user")
    // WOE buckets partition the corpus
    val woe = QualityModel.woeIv(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(woe.map(r => r.getLong(1) + r.getLong(2)).sum == nDocs)
  }

  test("q340: a 3-file lineitem split drains to the exact Q17 audit " +
    "(the threshold resolves at drain over merged cells), and a " +
    "crash-replayed batch is not re-summed") {
    lineitemTwinMatchesBatch("smallqty",
      graft.operators.Analytics.smallQuantityBrand(spark, sfDir),
      (src, st) => StreamingOps.streamingSmallQuantity(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q343/q344: 3-file event splits drain to the exact stationary " +
    "vector and conversion table, and crash-replayed batches are " +
    "not re-merged") {
    streamTwinMatchesBatch("markov",
      Sessionize.markovStationary(spark, sfDir),
      (src, st) => StreamingOps.streamingMarkovStationary(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
    streamTwinMatchesBatch("segconv",
      Lifecycle.segmentConversion(spark, sfDir),
      (src, st) => StreamingOps.streamingSegmentConversion(spark, sfDir,
        sourceDir = Some(src), sourceGlob = "*.parquet",
        maxFilesPerTrigger = Some(1), stateRoot = Some(st)))
  }

  test("q315-q319 invariants: late <= total with rate in [0,1], " +
    "top-20 is revenue-sorted, promo <= total revenue, the top " +
    "supplier set is the exact max tie set, small lines < all lines") {
    import graft.operators.Analytics
    Analytics.latePriority(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val top = Analytics.returnedRevenue(spark, sfDir).collect()
    assert(top.nonEmpty && top.length <= 20)
    top.sliding(2).foreach(w =>
      assert(w(0).getDouble(3) >= w(1).getDouble(3)))
    Analytics.promoShare(spark, sfDir).collect().foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 100.0 + 1e-9)
    }
    val ts = Analytics.topSupplier(spark, sfDir).collect()
    assert(ts.nonEmpty)
    assert(ts.map(_.getDouble(2)).distinct.length == 1,
      "tie set must share one revenue value")
    val small = Analytics.smallQuantityBrand(spark, sfDir).collect()
    val allLines = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(small.map(_.getLong(1)).sum < allLines)
  }

  test("q290: boundary counts balance (every session starts and " +
    "ends) and each day's peak is positive when sessions start") {
    val df = Sessionize.sessionConcurrency(spark, sfDir).collect()
    val starts = df.map(_.getLong(1)).sum
    val ends = df.map(_.getLong(2)).sum
    assert(starts == ends, s"starts=$starts ends=$ends")
    assert(starts > 0)
    df.foreach { r =>
      val (day, nStarts, peak) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(peak >= 0, s"day=$day negative peak $peak")
      if (nStarts > 0) assert(peak >= 1, s"day=$day starts but peak=$peak")
    }
  }

  test("q290: the peak never exceeds sessions live that day " +
    "(carry-in bound: starts so far minus ends of prior days)") {
    val df = Sessionize.sessionConcurrency(spark, sfDir).collect()
    var cumStarts = 0L
    var cumEndsPrior = 0L
    df.foreach { r =>
      cumStarts += r.getLong(1)
      val peak = r.getLong(3)
      assert(peak <= cumStarts - cumEndsPrior,
        s"day=${r.getLong(0)} peak=$peak exceeds live bound " +
          s"${cumStarts - cumEndsPrior}")
      cumEndsPrior += r.getLong(2)
    }
  }

  test("q291: churned+censored partition the user count, at-risk is " +
    "a strict suffix sum, and hazard stays in [0,1]") {
    val df = Lifecycle.survivalHazard(spark, sfDir).collect()
    val nUsers = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id")).distinct().count()
    assert(df.map(r => r.getLong(2) + r.getLong(3)).sum == nUsers)
    // suffix-sum law: n_at_risk(t) = Σ_{t' >= t} (churned + censored)
    var suffix = 0L
    df.reverse.foreach { r =>
      suffix += r.getLong(2) + r.getLong(3)
      assert(r.getLong(1) == suffix,
        s"tenure=${r.getLong(0)} at_risk=${r.getLong(1)} != $suffix")
    }
    // the earliest observed tenure row covers every user
    assert(df.head.getLong(1) == nUsers)
    df.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("q292: the closed-form windows reproduce the literal CUSUM " +
    "recursion S_d = max(0, S_prev + D*n_d - T), and S >= 0") {
    val rows = Lifecycle.cusumShift(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (tpe, byDay) =>
      val days = byDay.sortBy(_.getLong(1))
      val total = days.map(_.getLong(2)).sum
      val nDays = days.length.toLong
      var s = 0L
      days.foreach { r =>
        s = math.max(0L, s + nDays * r.getLong(2) - total)
        assert(r.getLong(3) == s,
          s"$tpe day=${r.getLong(1)} closed-form=${r.getLong(3)} " +
            s"recursion=$s")
        assert(r.getLong(3) >= 0L)
      }
    }
    // the dense grid covers every (type, day) cell of the corpus range
    val types = rows.map(_.getString(0)).distinct.length
    val span = rows.map(_.getLong(1)).max - rows.map(_.getLong(1)).min + 1
    assert(rows.length.toLong == types * span)
  }

  test("q293: a planted orphan is counted once as a key and by its " +
    "row multiplicity, and a clean edge reports zero") {
    import spark.implicits._
    val child = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "d"), (9L, "e"),
      (9L, "f")).toDF("fk", "payload")
    val parent = Seq((1L, "p"), (2L, "q"), (3L, "r")).toDF("pk", "name")
    val bad = Audit.orphanProfile(child, "fk", parent, "pk", "t").collect()(0)
    assert(bad.getLong(1) == 6L && bad.getLong(2) == 3L)
    assert(bad.getLong(3) == 1L, "one orphaned key (9)")
    assert(bad.getLong(4) == 3L, "three orphaned rows")
    val clean = Audit.orphanProfile(child.filter(col("fk") =!= 9L),
      "fk", parent, "pk", "t").collect()(0)
    assert(clean.getLong(3) == 0L && clean.getLong(4) == 0L)
  }

  test("q294: multiplicity identities hold on the real corpus " +
    "(rows >= keys, max >= avg, share consistent)") {
    val df = Audit.joinKeySkew(spark, sfDir).collect()
    assert(df.length == 7)
    df.foreach { r =>
      val (nRows, nKeys, maxMult) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nRows >= nKeys && maxMult >= 1L)
      assert(maxMult.toDouble >= r.getDouble(4) - 1e-9,
        s"${r.getString(0)}: max below avg")
      assert(math.abs(r.getDouble(5) - maxMult.toDouble / nRows) < 1e-12)
    }
  }
}
