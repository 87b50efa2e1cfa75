package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Invariant specs for the round-10 additions (q221+): sketch
  * properties the DuckDB hash-compare can't state — multiplicity
  * insensitivity, merge associativity across micro-batch splits, and
  * golden overlap geometry.
  */
class Wave6Spec extends SparkSpec {

  test("q222 HLL: duplicating every document leaves the sketch " +
    "bit-identical (multiplicity insensitivity)") {
    import spark.implicits._
    val base = (0 until 300).map(i =>
      (i.toLong, s"doc $i " + (0 until 10).map(t => s"w$i-$t").mkString(" "),
        "en", s"src${i % 3}", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val doubled = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + 1000L))
    def report(df: org.apache.spark.sql.DataFrame) =
      TextOps.hllFold(df).collect().map(r =>
        (r.getAs[String]("source"), r.getAs[Long]("registers_hit"),
          r.getAs[Long]("s_scaled"), r.getAs[Long]("exact_distinct"),
          r.getAs[Double]("estimate"))).toSet
    val a = report(base)
    val b = report(doubled)
    assert(a == b, s"sketch not multiplicity-insensitive:\n$a\nvs\n$b")
    // the estimator lands near truth at this cardinality (HLL standard
    // error ≈ 1.04/√256 ≈ 6.5%; linear counting tighter below 640)
    a.foreach { case (src, _, _, exact, est) =>
      assert(math.abs(est - exact) / exact < 0.2,
        s"$src estimate $est vs exact $exact")
    }
    Caches.releaseAll(spark)
  }

  test("q223: a 3-file micro-batch split drains to the exact batch " +
    "sketch (register max-merge associativity)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("exact_distinct"), r.getAs[Long]("registers_hit"),
        r.getAs[Long]("s_scaled"), r.getAs[Double]("estimate"))).toSet
    val batch = rows(TextOps.hllDistinct(spark, sfDir))
    Caches.releaseAll(spark)
    // split the fixture corpus across 3 stream files, 1 per trigger
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val root = SparkSpec.tempDir("graft_hllsplit_").toString
    def writeFlat(part: Int): Unit = {
      val tmp = s"$root/_w"
      val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1),
          graft.sources.Tables.documents(spark, sfDir).schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      (0 until 3).foreach(writeFlat)
      val streamed = rows(graft.streaming.StreamingOps
        .streamingHllDistinct(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q225: the persisted window artifact is written once and read " +
    "thereafter, matching the in-memory path") {
    val tableDir = SparkSpec.tempDir("graft_wintab_spec_").toString + "/windows"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dup_windows"),
        r.getAs[String]("kept_md5"))).toSet
    try {
      val inMem = rows(Dedup.incrementalWindowDedup(spark, sfDir))
      Caches.releaseAll(spark)
      val first = rows(
        Dedup.incrementalWindowDedupPersisted(spark, sfDir, tableDir))
      assert(first == inMem)
      assert(new java.io.File(tableDir).exists(), "artifact not written")
      Caches.releaseAll(spark)
      // second call must READ the artifact (corpus never re-windowed)
      val second = rows(
        Dedup.incrementalWindowDedupPersisted(spark, sfDir, tableDir))
      assert(second == inMem)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tableDir).getParentFile)
    }
  }

  test("q228: a 3-file micro-batch split drains to the exact batch " +
    "overlap matrix (KMV merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_both"), r.getAs[Long]("k_used"),
        r.getAs[Long]("audit_n_inter"), r.getAs[Double]("est_jaccard"))).toSet
    val batch = rows(Dedup.sourceOverlapSketch(spark, sfDir))
    Caches.releaseAll(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val root = SparkSpec.tempDir("graft_kmvsplit_").toString
    def writeFlat(part: Int): Unit = {
      val tmp = s"$root/_w"
      val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1),
          graft.sources.Tables.documents(spark, sfDir).schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      (0 until 3).foreach(writeFlat)
      val streamed = rows(graft.streaming.StreamingOps
        .streamingSourceOverlap(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q229: a 3-file micro-batch split drains to the exact batch " +
    "BM25 top-k (postings state equals the batch relations)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        math.floor(r.getAs[Double]("score") * 1e9 + 0.5).toLong)).toSet
    val batch = rows(TextOps.bm25TopK(spark, sfDir))
    Caches.releaseAll(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val root = SparkSpec.tempDir("graft_bm25split_").toString
    def writeFlat(part: Int): Unit = {
      val tmp = s"$root/_w"
      val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1),
          graft.sources.Tables.documents(spark, sfDir).schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      (0 until 3).foreach(writeFlat)
      val streamed = rows(graft.streaming.StreamingOps
        .streamingBm25(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q230 golden: a planted cross-language exact duplicate is " +
    "counted once, unrelated language pairs read zero") {
    import spark.implicits._
    val dup = (0 until 20).map(t => s"x$t").mkString(" ")
    val docs = Seq(
      (1L, dup, "en", "s", dup.length.toLong),
      (2L, dup, "de", "s", dup.length.toLong),
      (3L, dup, "en", "s", dup.length.toLong), // same-lang copy: no pair
      (4L, "other text entirely", "fr", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("graft_xlang_").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = Dedup.crossLingualDupMatrix(spark, dir).collect()
        .map(r => (r.getAs[String]("lang_a"), r.getAs[String]("lang_b")) ->
          (r.getAs[Long]("n_shared"), r.getAs[Double]("share"))).toMap
      assert(got(("de", "en")) == ((1L, 1.0)), s"$got")
      assert(got(("en", "fr")) == ((0L, 0.0)), s"$got")
      assert(got(("de", "fr")) == ((0L, 0.0)), s"$got")
      assert(got.size == 3, s"$got")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q232: the label predicate is PUSHED into the embeddings scan " +
    "and every result row satisfies it") {
    val df = Similarity.filteredAnnTopK(spark, sfDir)
    val plan = preparedPlan(df).toString
    // the corpus-side parquet scan must carry the label pushdown —
    // post-filtering a plain top-k would both read more and return
    // fewer than k matching rows
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s+", " ")
        .matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*"),
      s"label filter not pushed:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Number]("label").longValue == 3L))
    // per query, ranks are 1..k contiguous
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rs.length).toSeq, s"query $q ranks")
    }
    Caches.releaseAll(spark)
  }

  test("q233: a 3-file micro-batch split drains to the exact batch " +
    "frame-feature rows") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_frames"),
        r.getAs[String]("frame_sums"))).toSet
    val batch = rows(Multimodal.frameFeaturesAgg(spark, sfDir))
    Caches.releaseAll(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).collect()
    val root = SparkSpec.tempDir("graft_framesplit_").toString
    def writeFlat(part: Int): Unit = {
      val tmp = s"$root/_w"
      val slice = docs.zipWithIndex.filter(_._2 % 3 == part).map(_._1)
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq, 1),
          graft.sources.Tables.documents(spark, sfDir).schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$root/stream/b$part.parquet")
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      (0 until 3).foreach(writeFlat)
      val streamed = rows(graft.streaming.StreamingOps
        .streamingFrameFeatures(spark, sfDir,
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)))
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q234: max-merging the (source, lang) cell registers over lang " +
    "reproduces the q222 source registers bit-for-bit") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"),
        md5(col("text").cast("binary")).as("h"))
    def regs(keys: Seq[String]) =
      TextOps.hllRegsKeyed(docs, keys)
    val direct = regs(Seq("source")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("reg")) ->
        r.getAs[Long]("mrho")).toMap
    val merged = regs(Seq("source", "lang"))
      .groupBy(col("source"), col("reg"))
      .agg(max(col("mrho")).as("mrho")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("reg")) ->
        r.getAs[Long]("mrho")).toMap
    assert(direct == merged,
      s"roll-up mismatch: direct ${direct.size} vs merged ${merged.size}")
    Caches.releaseAll(spark)
  }

  test("q236 golden: a pure length-gate corpus correlates r=1, a " +
    "flag-invariant source is degenerate r=0") {
    import spark.implicits._
    // sourceA: long docs pass the gate, short docs fail it — the flag
    // IS a length cut, so point-biserial r must be strongly positive;
    // sourceB: every doc passes (flag never varies) → degenerate
    // 32 toks, distinct 4/32 > 0.1, 'the' 8/32 < 0.5 → passes the gate
    val longDoc = ("the quick row runs " * 8).trim
    val shortDoc = "tiny doc here"                      // 3 toks, fails
    val docs = ((0 until 10).map(i =>
        (i.toLong, longDoc, "en", "gateA", 1000L + i)) ++
      (10 until 20).map(i =>
        (i.toLong, shortDoc, "en", "gateA", 10L + i)) ++
      (20 until 25).map(i =>
        (i.toLong, longDoc, "en", "allpass", 500L + i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("graft_lqcorr_").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = TextOps.lengthQualityCorrelation(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Double]("r"), r.getAs[Long]("degenerate"))).toMap
      assert(got("gateA")._2 == 0L && got("gateA")._1 > 0.9,
        s"length-gate r: ${got("gateA")}")
      assert(got("allpass") == ((0.0, 1L)), s"${got("allpass")}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q237: leak verdicts match a brute-force cluster scan") {
    val got = Similarity.embeddingDecontamination(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getAs[Long]("n_near_train"),
          r.getAs[Long]("leaked"),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(got.nonEmpty && got.keySet.forall(_ % 5 == 0))
    assert(got.values.exists(_._3 == 1L), "no held-out vector leaked")
    val u = Similarity.unitVectors(spark, sfDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val cents = u.filter(_._1 < 8)
    def assign(v: Array[Double]): Long =
      cents.toSeq.map { case (c, cv) => (dot(v, cv), c) }
        .maxBy { case (s, c) => (s, -c) }._2
    val cid = u.map { case (id, v) => id -> assign(v) }
    val trainByCid = u.keys.filter(_ % 5 != 0).toSeq.groupBy(cid)
    got.foreach { case (id, (gcid, nNear, leaked, best)) =>
      assert(gcid == cid(id), s"vec $id cluster")
      val hits = trainByCid.getOrElse(gcid, Seq.empty)
        .map(o => (o, dot(u(id), u(o)))).filter(_._2 >= 0.3)
      assert(nNear == hits.size.toLong, s"vec $id n_near_train")
      assert((leaked == 1L) == hits.nonEmpty, s"vec $id verdict")
      val expBest = hits.sortBy { case (o, s) => (-s, o) }.headOption.map(_._1)
      assert(best == expBest, s"vec $id best train witness")
    }
    Caches.releaseAll(spark)
  }

  test("q238: repair conserves vectors and moves exactly the q237 " +
    "leak set from heldout to train") {
    val leaks = Similarity.embeddingDecontamination(spark, sfDir)
      .filter(col("leaked") === 1L).count()
    Caches.releaseAll(spark)
    val rows = Similarity.embeddingLeakRepair(spark, sfDir).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_before"), r.getAs[Long]("n_moved_out"),
          r.getAs[Long]("n_moved_in"), r.getAs[Long]("n_after"))).toMap
    val h = rows("heldout"); val t = rows("train")
    assert(h._2 == leaks && t._3 == leaks,
      s"moved ${h._2}/${t._3} != q237 leaks $leaks")
    assert(t._2 == 0L && h._3 == 0L, s"$rows")
    assert(h._1 + t._1 == h._4 + t._4, s"vectors not conserved: $rows")
    assert(h._4 == h._1 - leaks && t._4 == t._1 + leaks, s"$rows")
    assert(leaks > 0L, "fixture has no semantic leaks to repair")
    Caches.releaseAll(spark)
  }

  test("q224 golden: identical sources estimate Jaccard 1, disjoint " +
    "sources estimate 0, and the banded audit is exact on in-band docs") {
    import spark.implicits._
    val shared = (0 until 40).map(t => s"sh$t").mkString(" ")
    val only = (0 until 40).map(t => s"on$t").mkString(" ")
    // doc ids all ≡ 0 mod 5: every doc is inside the audit band, so
    // the banded audit IS the exact answer here (audit_frac = 1)
    val docs = Seq(
      (0L, shared, "en", "twinA", shared.length.toLong),
      (5L, shared, "en", "twinB", shared.length.toLong),
      (10L, only, "en", "loner", only.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("graft_overlap_").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = Dedup.sourceOverlapSketch(spark, dir).collect()
        .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
          (r.getAs[Double]("audit_jaccard"), r.getAs[Double]("est_jaccard"),
            r.getAs[Double]("audit_frac")))
        .toMap
      assert(got(("twinA", "twinB")) == ((1.0, 1.0, 1.0)), s"$got")
      assert(got(("loner", "twinA")) == ((0.0, 0.0, 1.0)), s"$got")
      assert(got(("loner", "twinB")) == ((0.0, 0.0, 1.0)), s"$got")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q224 estimator: bottom-64 estimate tracks the TRUE exact " +
    "Jaccard within sampling error, and the banded audit tracks it " +
    "too (the audit stays a faithful proxy after gating)") {
    // true exact Jaccard computed independently at full corpus grain
    // (the audit column itself is now band-sampled by design)
    val sh = Dedup.shingleSetBySource(
      graft.sources.Tables.documents(spark, sfDir)).persist()
    val counts = sh.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inter = sh.select(col("source").as("sa"), col("h"))
      .join(sh.select(col("source").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def exactJ(a: String, b: String): Double = {
      val i = inter.getOrElse((a, b), 0L).toDouble
      i / (counts(a) + counts(b) - i).toDouble
    }
    val rows = Dedup.sourceOverlapSketch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[String]("source_a"); val b = r.getAs[String]("source_b")
      val exact = exactJ(a, b)
      val est = r.getAs[Double]("est_jaccard")
      val audit = r.getAs[Double]("audit_jaccard")
      val k = r.getAs[Long]("k_used")
      // bottom-k Jaccard estimator: binomial-ish error ~ sqrt(J/k);
      // 3.5 sigma + floor keeps the guard tight but non-flaky
      val tol = 3.5 * math.sqrt(math.max(exact, 0.01) / k) + 0.02
      assert(math.abs(est - exact) <= tol,
        s"$a/$b: est $est exact $exact tol $tol")
      // the 20% doc band's exact Jaccard should sit near the true one
      // (loose bound: shingle sets subsample non-binomially)
      assert(math.abs(audit - exact) <= math.max(0.15, 3 * tol),
        s"$a/$b: audit $audit exact $exact")
      assert(math.abs(r.getAs[Double]("audit_frac") - 0.2) < 0.05)
    }
    Caches.releaseAll(spark)
  }
}
