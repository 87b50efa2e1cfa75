package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational}

/** Adversarial shapes for the distributed primitives: a long-chain
  * graph for connected components (worst case for plain min-label
  * propagation — diameter rounds; pointer jumping must close it in
  * O(log n)), and the approx-percentile sketch against the exact
  * percentile envelope.
  */
class DedupChainSpec extends SparkSpec {

  test("connected components closes a 4000-node path graph within maxIters") {
    import spark.implicits._
    val n = 4000L
    // path 0-1-2-...-3999: single component, diameter n-1
    val edges = spark.range(0, n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // maxIters stays the production default — pointer jumping needs
    // ~log2(n) rounds; plain propagation would blow the 50-round cap
    val labels = Dedup.connectedComponents(edges).collect()
    assert(labels.length == n)
    labels.foreach { r =>
      assert(r.getAs[Long]("label") == 0L,
        s"node ${r.getAs[Long]("id")} labeled ${r.getAs[Long]("label")}")
    }
  }

  test("connected components still exact on a multi-component forest") {
    // two chains + a singleton: labels must be each component's min
    val edges = spark.range(0, 99)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .union(spark.range(200, 299)
        .select(col("id").as("src"), (col("id") + 1).as("dst")))
    val nodes = spark.range(0, 100).select(col("id"))
      .union(spark.range(200, 300).select(col("id")))
      .union(spark.range(500, 501).select(col("id")))
    val labels = Dedup.connectedComponents(edges, nodes = Some(nodes))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(labels.size == 201)
    (0L to 99L).foreach(i => assert(labels(i) == 0L))
    (200L to 299L).foreach(i => assert(labels(i) == 200L))
    assert(labels(500L) == 500L)
  }

  test("incremental minhash equals the full sweep restricted to cross-split pairs") {
    val batchRem = 9L
    val full = Dedup.minhashCandidates(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard")))
    // pairs with exactly one side in the new batch, oriented (new, corpus)
    val expected = full.collect {
      case (a, b, j) if (a % 10 == batchRem) != (b % 10 == batchRem) =>
        if (a % 10 == batchRem) (a, b, j) else (b, a, j)
    }.toSet
    val got = Dedup.incrementalMinhash(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == expected,
      s"incremental ${got.size} pairs vs cross-split ${expected.size}")
  }

  test("persisted-band-table incremental minhash equals the in-memory path") {
    val tableDir = SparkSpec.tempDir("graft_bandtable_").toString + "/bands"
    try {
      def collectPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet
      val inMem = collectPairs(Dedup.incrementalMinhash(spark, sfDir))
      // first call writes the historical band table...
      val first = collectPairs(
        Dedup.incrementalMinhashPersisted(spark, sfDir, tableDir))
      assert(first == inMem)
      // ...second call must READ it (corpus side never recomputed)
      assert(new java.io.File(tableDir).exists())
      val second = collectPairs(
        Dedup.incrementalMinhashPersisted(spark, sfDir, tableDir))
      assert(second == inMem)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tableDir).getParentFile)
    }
  }

  test("streaming band dedup drains to batch cross-split PLUS stream-stream pairs") {
    def collectPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard"))).toSet
    // full-pair parity with the batch path: every q31 production pair
    // with at least one stream side (stream=cross orientation; both
    // stream = (max, min)) — not just the cross-split restriction
    val cross = collectPairs(Dedup.incrementalMinhash(spark, sfDir))
    val streamStream = Dedup.minhashCandidates(spark, sfDir).collect()
      .flatMap { r =>
        val (a, b, j) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))
        if (a % 10 == 9 && b % 10 == 9) Some((b, a, j)) else None
      }.toSet
    val expected = cross ++ streamStream
    val streamed = collectPairs(
      graft.streaming.StreamingOps.streamingBandDedup(spark, sfDir))
    assert(streamed == expected,
      s"streamed ${streamed.size} pairs vs expected ${expected.size}")
    Caches.releaseAll(spark)
  }

  test("cross-micro-batch stream duplicates pair (band state grows per batch)") {
    import spark.implicits._
    // two stream docs (ids ≡ 9 mod 10) with identical text arrive in
    // DIFFERENT micro-batches (one source file each, maxFilesPerTrigger
    // = 1), plus a corpus near-dup of the same text and unrelated
    // noise. The round-8 gap: the state table was read-only, so these
    // two never paired. Now batch bands append to the state, so the
    // later batch must pair with the earlier one: (29, 19) canonical.
    val dup = (0 until 30).map(t => s"dup$t").mkString(" ")
    val corpusDoc = (1 until 30).map(t => s"dup$t").mkString(" ") + " dupX"
    def row(id: Long, text: String) =
      (id, text, "en", "crafted", text.length.toLong)
    val all = Seq(row(19L, dup), row(29L, dup), row(4L, corpusDoc),
      row(6L, (0 until 30).map(t => s"zz$t").mkString(" ")))
    val root = SparkSpec.tempDir("graft_xbatch_").toString
    // the fixture layout is FLAT single files (documents.parquet is a
    // file, not a directory), so write each frame and promote its part
    // file to a flat name the glob can see
    def writeFlat(rows: Seq[(Long, String, String, String, Long)],
        dest: String): Unit = {
      val tmp = s"$root/_w"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dest)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      // the full corpus at dir (historical side = ids not ≡ 9)
      writeFlat(all, s"$root/corpus/documents.parquet")
      // the stream side split one-doc-per-file so each is its own batch
      writeFlat(Seq(row(19L, dup)), s"$root/stream/b0.parquet")
      writeFlat(Seq(row(29L, dup)), s"$root/stream/b1.parquet")
      val got = graft.streaming.StreamingOps.streamingBandDedup(
          spark, s"$root/corpus",
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)).collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")))
        .toSet
      // the cross-batch stream-stream pair is the point of the test
      assert(got.contains((29L, 19L)),
        s"cross-micro-batch duplicate not paired: $got")
      // cross pairs against the historical corpus still emit
      assert(got.contains((19L, 4L)) && got.contains((29L, 4L)), s"$got")
      assert(got.forall { case (a, b) => Set(19L, 29L).contains(a) },
        s"non-stream new_id leaked: $got")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("oracled streaming band dedup == q95 pairs with a stream side") {
    // the md5-banded streaming twin (q145) must emit exactly the q95
    // candidate+verify pairs with AT LEAST ONE stream side — cross
    // pairs oriented stream→new_id, stream-stream pairs (max, min) —
    // same banding, same verification, so the set identity is
    // structural, independent of the DuckDB oracle
    val q95 = operators.Dedup.minhashOracled(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard")))
    val expected = q95.flatMap { case (a, b, j) =>
      (a % 10 == 9, b % 10 == 9) match {
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case (true, true) => Some((math.max(a, b), math.min(a, b), j))
        case _ => None
      }
    }.toSet
    val streamed = graft.streaming.StreamingOps
      .streamingBandDedupOracled(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(streamed == expected,
      s"streamed ${streamed.size} pairs vs expected ${expected.size}")
    Caches.releaseAll(spark)
  }

  test("streaming window dedup drains to the STATIC corpus∪earlier-stream rule") {
    import graft.sources.Tables
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
        r.getAs[Long]("n_kept_tokens"), r.getAs[String]("kept_md5"))).toSet
    // static form of the r10 state-append rule: a batch window is
    // borrowed when in the corpus OR carried by an earlier-id stream
    // doc (first occurrence wins, same-doc repeats never self-remove)
    val toksAll = Dedup.tokenizedDocs(Tables.documents(spark, sfDir))
    val wAll = Dedup.windowRows(toksAll, 15)
    val cw = wAll.filter(col("doc_id") % 10 =!= 9)
      .select(col("wh")).distinct().withColumn("in_corpus", lit(1))
    val sw = wAll.filter(col("doc_id") % 10 === 9)
      .groupBy(col("wh")).agg(min(col("doc_id")).as("min_doc"))
    val removed = wAll.filter(col("doc_id") % 10 === 9)
      .join(cw, Seq("wh"), "left").join(sw, Seq("wh"), "left")
      .filter(col("in_corpus").isNotNull || col("min_doc") < col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"),
        count(lit(1)).as("n_dup"))
    val expected = rows(Dedup.reassembleUncovered(
      toksAll.filter(col("doc_id") % 10 === 9), removed, 15))
    val streamed = rows(
      graft.streaming.StreamingOps.streamingWindowDedup(spark, sfDir))
    assert(streamed == expected,
      s"streamed ${streamed.size} rows vs static ${expected.size}")
    assert(expected.exists(_._4 > 0L), "no borrowed spans in the fixture")
    Caches.releaseAll(spark)
  }

  test("cross-micro-batch stream substring dedups (window state grows per batch)") {
    import spark.implicits._
    // two stream docs share a 15-token run and arrive in DIFFERENT
    // micro-batches in id order: the earlier doc must keep its tokens,
    // the later doc must lose the shared run — the r9 gap (history-only
    // screen) would keep both
    val shared = (0 until 15).map(t => s"dup$t").mkString(" ")
    val d19 = shared + " " + (0 until 10).map(t => s"aa$t").mkString(" ")
    val d29 = shared + " " + (0 until 10).map(t => s"bb$t").mkString(" ")
    val corpus = (0 until 20).map(t => s"zz$t").mkString(" ")
    def row(id: Long, text: String) =
      (id, text, "en", "crafted", text.length.toLong)
    val all = Seq(row(19L, d19), row(29L, d29), row(4L, corpus))
    val root = SparkSpec.tempDir("graft_xbatchwin_").toString
    def writeFlat(rows: Seq[(Long, String, String, String, Long)],
        dest: String): Unit = {
      val tmp = s"$root/_w"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dest)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      writeFlat(all, s"$root/corpus/documents.parquet")
      writeFlat(Seq(row(19L, d19)), s"$root/stream/b0.parquet")
      writeFlat(Seq(row(29L, d29)), s"$root/stream/b1.parquet")
      // id-ordered arrival (the keyset-pagination contract): b0 older
      new java.io.File(s"$root/stream/b0.parquet")
        .setLastModified(System.currentTimeMillis() - 60000L)
      val got = graft.streaming.StreamingOps.streamingWindowDedup(
          spark, s"$root/corpus",
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_dup_windows"), r.getAs[Long]("n_kept_tokens")))
        .toMap
      assert(got(19L)._1 == 0L && got(19L)._2 == 25L,
        s"earlier doc lost tokens: $got")
      assert(got(29L)._1 == 1L && got(29L)._2 == 10L,
        s"later stream duplicate not screened: $got")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("streaming vocab drains to exactly the full-corpus batch vocab") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{col, count, countDistinct, explode, lit}
    val batch = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.TextAnalytics.tokens(col("text")))
          .as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"))).toMap
    val streamed = graft.streaming.StreamingOps.streamingVocab(spark, sfDir)
      .collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"))).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} tokens vs batch ${batch.size}")
    Caches.releaseAll(spark)
  }

  test("approx percentiles land inside the exact p45-p55 / p85-p95 envelope") {
    val exact = Relational.percentilesEnvelope(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("p45"), r.getAs[Double]("p55"),
          r.getAs[Double]("p85"), r.getAs[Double]("p95"))).toMap
    val approx = Relational.approxPercentilesRaw(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (lo50, hi50, lo90, hi90) = exact(t)
      val p50 = r.getAs[Double]("p50_approx")
      val p90 = r.getAs[Double]("p90_approx")
      assert(p50 >= lo50 && p50 <= hi50, s"$t p50 $p50 outside [$lo50,$hi50]")
      assert(p90 >= lo90 && p90 <= hi90, s"$t p90 $p90 outside [$lo90,$hi90]")
    }
  }

  test("span dedup: bounded ratios and exact span totals on the fixture corpus") {
    import graft.functions.TextAnalytics
    import graft.sources.Tables
    val rows = Dedup.spanDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_spans"); val d = r.getAs[Long]("n_dup_spans")
      val ratio = r.getAs[Double]("dup_span_ratio")
      assert(n > 0 && d >= 0 && d <= n)
      assert(math.abs(ratio - d.toDouble / n) < 1e-12)
    }
    // every non-empty doc contributes exactly ceil(len/25) spans
    val expectedSpans = Tables.documents(spark, sfDir)
      .select(TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .agg(sum(ceil(size(col("toks")).cast("double") / 25).cast("long")))
      .head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_spans")).sum == expectedSpans)
  }

  test("oracled minhash: identical docs always recalled, output sound vs brute force") {
    import spark.implicits._
    import graft.functions.TextAnalytics
    // 0/1 identical (jaccard 1 → every band matches → guaranteed recall);
    // 2 shares no shingles with anything; 3 is a heavy near-dup of 0
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val near = ((0 until 36).map(i => s"w$i") ++
      (0 until 4).map(i => s"x$i")).mkString(" ")
    val other = (0 until 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, other), (3L, near))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    try {
      val got = Dedup.minhashOracledDf(docs).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("jaccard")).toMap
      assert(got.contains((0L, 1L)) && got((0L, 1L)) == 1.0,
        s"identical pair missing or wrong jaccard: $got")
      assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L),
        s"disjoint doc 2 paired: $got")
      // every emitted jaccard must equal the brute-force value
      val sh = docs.select(col("doc_id"),
        TextAnalytics.shingles(col("text"), 3).as("sh")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getSeq[String](1).toSet).toMap
      got.foreach { case ((a, b), j) =>
        val (sa, sb) = (sh(a), sh(b))
        val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
        assert(j == expect && j >= 0.5, s"pair ($a,$b) jaccard $j != $expect")
      }
    } finally Caches.releaseAll(spark)
  }

  test("oracled minhash on the fixture corpus: sound (subset of brute-force >= 0.5)") {
    import graft.functions.TextAnalytics
    import graft.sources.Tables
    val got = Dedup.minhashOracled(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got.nonEmpty, "fixture corpus has near-dups; q95 found none")
    val sh = Tables.documents(spark, sfDir).select(col("doc_id"),
      TextAnalytics.shingles(col("text"), 3).as("sh")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    got.foreach { case (a, b) =>
      val j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      assert(j >= 0.5, s"pair ($a,$b) emitted with true jaccard $j < 0.5")
    }
    Caches.releaseAll(spark)
  }

  test("oracled simhash: order-invariant, dup-invariant, one-token flips few bits") {
    import spark.implicits._
    val base = (0 until 30).map(i => s"w$i")
    val docs = Seq(
      (0L, base.mkString(" ")),
      (1L, base.reverse.mkString(" ")),            // permutation of 0
      (2L, (base ++ base.take(7)).mkString(" ")),  // duplicated tokens
      (3L, (base.tail :+ "zzz").mkString(" ")))    // one token swapped
      .map { case (id, text) =>
        (id, text, "en", "crafted", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("simhash-o").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val sig = Dedup.simhashOracled(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sig")).toMap
      assert(sig(0L).length == 60 && sig(0L).forall(c => c == '0' || c == '1'))
      // the signature is a function of the distinct token SET
      assert(sig(1L) == sig(0L) && sig(2L) == sig(0L))
      // swapping one of 30 tokens moves few majority bits
      val hamming = sig(0L).zip(sig(3L)).count { case (x, y) => x != y }
      assert(hamming > 0 && hamming <= 20,
        s"one-token swap moved $hamming/60 bits")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("containment catches an embedded document that jaccard under-scores") {
    import spark.implicits._
    import graft.sources.Tables
    val short = (0 until 30).map(i => s"w$i")
    val long = short ++ (0 until 6).map(i => s"z$i") // short fully embedded
    val other = (0 until 30).map(i => s"u$i")
    val docs = Seq(
      (0L, short.mkString(" ")),
      (1L, long.mkString(" ")),
      (2L, other.mkString(" ")))
      .map { case (id, text) =>
        (id, text, "en", "crafted", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("containment").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val cont = Dedup.containmentOracledDf(
        Tables.documents(spark, dir)).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("containment")).toMap
      // every shingle of doc 0 appears in doc 1 → containment exactly 1
      assert(cont.get((0L, 1L)).contains(1.0),
        s"embedded pair missing or under-scored: $cont")
      // same pair's jaccard is strictly below 1 (the signal gap)
      val jac = Dedup.minhashOracledDf(
        Tables.documents(spark, dir), minJaccard = 0.0).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("jaccard")).toMap
      assert(jac((0L, 1L)) < 1.0 && jac((0L, 1L)) > 0.5)
      // the unrelated doc pairs with nothing
      assert(!cont.keySet.exists { case (a, b) => a == 2L || b == 2L })
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("production containment: sound vs brute force, recalls the embedded doc") {
    import spark.implicits._
    import graft.sources.Tables
    // soundness on the fixture corpus: every emitted pair's containment
    // matches the brute-force value computed from raw shingle sets
    val got = Dedup.containmentCandidates(spark, sfDir).collect()
    assert(got.nonEmpty, "fixture corpus has planted near-dups")
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextAnalytics.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      val expected = sh(a).intersect(sh(b)).size.toDouble /
        math.min(sh(a).size, sh(b).size)
      assert(math.abs(r.getAs[Double]("containment") - expected) < 1e-12)
    }
    // recall on a crafted embedded pair (j ≈ 0.78 band-collides)
    val short = (0 until 30).map(i => s"w$i")
    val docs = Seq(
      (0L, short.mkString(" ")),
      (1L, (short ++ (0 until 6).map(i => s"z$i")).mkString(" ")))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("cont-prod").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val pair = Dedup.containmentCandidates(spark, dir).collect()
      assert(pair.exists(r => r.getAs[Long]("id_a") == 0L &&
        r.getAs[Long]("id_b") == 1L &&
        r.getAs[Double]("containment") == 1.0))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("asymmetric containment recalls a short doc embedded in a 10x-longer doc") {
    import spark.implicits._
    import graft.sources.Tables
    // 40-token doc verbatim inside a 400-token doc: jaccard ≈ 38/398 ≈
    // 0.095, far below any banding threshold — the case the symmetric
    // paths (q109/q111) provably miss and this operator exists for
    val short = (0 until 40).map(i => s"w$i")
    val long = (0 until 180).map(i => s"p$i") ++ short ++
      (0 until 180).map(i => s"s$i")
    val other = (0 until 40).map(i => s"u$i")
    val docs = Seq(
      (0L, short.mkString(" ")),
      (1L, long.mkString(" ")),
      (2L, other.mkString(" ")))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("cont-asym").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      // pin the gap: the symmetric production path does NOT surface the
      // embedded pair (whole-document signatures cannot band-collide at
      // jaccard 0.095 with 4 rows/band)
      val sym = Dedup.containmentCandidates(spark, dir).collect()
      assert(!sym.exists(r => r.getAs[Long]("id_a") == 0L &&
        r.getAs[Long]("id_b") == 1L),
        "symmetric banding unexpectedly recalled the embedded pair")
      // the asymmetric path recalls it with exact containment 1.0:
      // every 3-gram of doc 0 appears in doc 1, and every interior
      // winnow window of the embedded span selects the same fingerprint
      // in both documents
      val asym = Dedup.containmentAsymDf(Tables.documents(spark, dir))
        .collect()
      val hit = asym.find(r => r.getAs[Long]("id_a") == 0L &&
        r.getAs[Long]("id_b") == 1L)
      assert(hit.isDefined, s"asymmetric path missed the embedded pair")
      assert(hit.get.getAs[Double]("containment") == 1.0)
      assert(hit.get.getAs[Long]("n_shared") >= 2L)
      // the unrelated doc pairs with nothing
      assert(!asym.exists(r => r.getAs[Long]("id_a") == 2L ||
        r.getAs[Long]("id_b") == 2L))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("asymmetric containment is sound vs brute force on the fixture corpus") {
    import graft.sources.Tables
    val got = Dedup.containmentAsym(spark, sfDir).collect()
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextAnalytics.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      val expected = sh(a).intersect(sh(b)).size.toDouble /
        math.min(sh(a).size, sh(b).size)
      // 64-bit hashed-shingle intersection vs string sets: equal modulo
      // ~1e-10 collision odds (the q111 soundness argument)
      assert(math.abs(r.getAs[Double]("containment") - expected) < 1e-12,
        s"pair ($a,$b): got ${r.getAs[Double]("containment")}, want $expected")
      assert(r.getAs[Double]("containment") >= 0.5)
    }
  }

  test("boilerplate removal: shared spans removed from ALL docs") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val a = (0 until 25).map(i => s"a$i").mkString(" ")
    val b = (0 until 25).map(i => s"b$i").mkString(" ")
    val c = (0 until 25).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a $b"), // a is boilerplate (also in docs 1, 2) → only b kept
      (1L, s"$a $c"), // a removed here too (unlike q114: no copy survives)
      (2L, a))        // whole doc is boilerplate → empty reassembly
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("boilerplate").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = Dedup.boilerplateRemoval(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed"),
            r.getAs[String]("clean_md5"))).toMap
      assert(got(0L) == (2L, 1L, md5hex(b)))
      assert(got(1L) == (2L, 1L, md5hex(c)))
      assert(got(2L) == (1L, 1L, md5hex("")))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("paragraph dedup: first occurrence wins, reassembly is byte-exact") {
    import spark.implicits._
    import graft.sources.Tables
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val a = (0 until 25).map(i => s"a$i").mkString(" ")
    val b = (0 until 25).map(i => s"b$i").mkString(" ")
    val c = (0 until 25).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a $b"), // owns both of its paragraphs
      (1L, s"$a $c"), // first paragraph is doc 0's → dropped; c kept
      (2L, a))        // whole doc is a duplicate paragraph → empty out
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("para-dedup").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = Dedup.paragraphDedup(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"),
            r.getAs[String]("kept_md5"))).toMap
      assert(got(0L) == (2L, 2L, md5hex(s"$a $b")))
      assert(got(1L) == (2L, 1L, md5hex(c)))
      // fully-duplicated doc keeps nothing; reassembled text is ""
      assert(got(2L) == (1L, 0L, md5hex("")))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("window dedup catches an unaligned shared substring paragraph dedup misses") {
    import spark.implicits._
    // doc 1: 30 unique tokens. doc 2: 10 own tokens, then doc 1's
    // tokens 5..19 (a 15-token run at a DIFFERENT offset), then 10 more
    // own tokens. Exactly one w=15 window of doc 2 (pos 10) matches a
    // doc 1 window (pos 5) — no 25-token paragraph boundary aligns, so
    // q114 keeps every span of both docs.
    val aToks = (0 until 30).map(i => s"a$i")
    val bToks = (0 until 10).map(i => s"b$i") ++ aToks.slice(5, 20) ++
      (10 until 20).map(i => s"b$i")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .map { case (id, text) => (id, text, "en", "crafted", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.windowDedupDf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1 first-occurrence: untouched
    assert(got(1L).getAs[Long]("n_dup_windows") == 0L)
    assert(got(1L).getAs[Long]("n_kept_tokens") == 30L)
    // doc 2: ONE duplicated window (pos 10), covering tokens 10..24 —
    // the 15 borrowed tokens are removed, its own 20 survive
    assert(got(2L).getAs[Long]("n_dup_windows") == 1L)
    assert(got(2L).getAs[Long]("n_kept_tokens") == 20L)
    val keptText = ((0 until 10).map(i => s"b$i") ++
      (10 until 20).map(i => s"b$i")).mkString(" ")
    val expMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(keptText.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(2L).getAs[String]("kept_md5") == expMd5)
    // paragraph dedup (q114, aligned 25-token spans) sees nothing
    val para = Dedup.paragraphDedupDf(docs).collect()
    para.foreach(r => assert(
      r.getAs[Long]("n_kept") == r.getAs[Long]("n_spans"),
      s"q114 unexpectedly deduped doc ${r.getAs[Long]("doc_id")}"))
    Caches.releaseAll(spark)
  }

  test("span dedup: hand-computed ratios on a crafted corpus") {
    import spark.implicits._
    // spans are 25 tokens wide; A and B are full spans, C is unique,
    // tail is doc 3's 5-token remainder reused verbatim as doc 4
    val a = (0 until 25).map(i => s"a$i").mkString(" ")
    val b = (0 until 25).map(i => s"b$i").mkString(" ")
    val c = (0 until 25).map(i => s"c$i").mkString(" ")
    val d = (0 until 25).map(i => s"d$i").mkString(" ")
    val tail = (0 until 5).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a $b"),    // both spans shared with doc 1 → 1.0
      (1L, s"$a $b"),    // exact duplicate of doc 0      → 1.0
      (2L, s"$a $d"),    // span A shared, D unique       → 0.5
      (3L, s"$c $tail"), // C unique, tail shared w/ 4    → 0.5
      (4L, tail))        // single span, shared with 3    → 1.0
      .map { case (id, text) =>
        (id, text, "en", "crafted", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("span-dedup").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = Dedup.spanDedup(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))).toMap
      assert(got == Map(
        0L -> (2L, 2L), 1L -> (2L, 2L), 2L -> (2L, 1L),
        3L -> (2L, 1L), 4L -> (1L, 1L)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("stream band state compacts: a 10-batch drain leaves a bounded " +
    "file count and identical pairs") {
    import spark.implicits._
    val dup = (0 until 30).map(t => s"dup$t").mkString(" ")
    val corpusDoc = (1 until 30).map(t => s"dup$t").mkString(" ") + " dupX"
    def row(id: Long, text: String) =
      (id, text, "en", "crafted", text.length.toLong)
    // stream docs ids 9,19,...,99 — first and last identical (a
    // cross-batch stream-stream pair), the rest unique noise
    val streamDocs = (0 until 10).map { i =>
      val id = 10L * i + 9L
      val text = if (i == 0 || i == 9) dup
        else (0 until 30).map(t => s"u${i}t$t").mkString(" ")
      row(id, text)
    }
    val all = streamDocs ++ Seq(row(4L, corpusDoc),
      row(6L, (0 until 30).map(t => s"zz$t").mkString(" ")))
    val root = SparkSpec.tempDir("graft_compact_").toString
    def writeFlat(rows: Seq[(Long, String, String, String, Long)],
        dest: String): Unit = {
      val tmp = s"$root/_w"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dest)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    def pairs(stateDir: String, maxFiles: Int) = {
      val got = graft.streaming.StreamingOps.streamingBandDedup(
          spark, s"$root/corpus",
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1),
          stateRoot = Some(stateDir), stateCompactMaxFiles = maxFiles)
        .collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")))
        .toSet
      Caches.releaseAll(spark)
      got
    }
    try {
      writeFlat(all, s"$root/corpus/documents.parquet")
      streamDocs.zipWithIndex.foreach { case (d, i) =>
        val f = s"$root/stream/b$i.parquet"
        writeFlat(Seq(d), f)
        // id-ordered arrival: monotone mtimes
        new java.io.File(f)
          .setLastModified(System.currentTimeMillis() - (100L - i) * 1000L)
      }
      val uncompacted = pairs(s"$root/state_plain", maxFiles = 1000)
      val compacted = pairs(s"$root/state_compact", maxFiles = 3)
      assert(compacted == uncompacted && compacted.contains((99L, 9L)),
        s"compacted $compacted vs uncompacted $uncompacted")
      // 10 appended deltas without compaction; a bounded handful with
      // (the band state table lives at <stateRoot>/bands — the durable
      // root also holds the sink and checkpoint)
      val nPlain = new java.io.File(s"$root/state_plain/bands").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val nCompact = new java.io.File(s"$root/state_compact/bands").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(nPlain >= 10, s"expected >=10 delta files, got $nPlain")
      assert(nCompact <= 5,
        s"compaction left $nCompact files (bound 5; plain run: $nPlain)")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q235: a cross-batch exact duplicate is suppressed by the hash " +
    "registry and counted in n_copies") {
    import spark.implicits._
    val dup = "same exact content here"
    def row(id: Long, text: String) =
      (id, text, "en", "crafted", text.length.toLong)
    val root = SparkSpec.tempDir("graft_regdedup_").toString
    def writeFlat(rows: Seq[(Long, String, String, String, Long)],
        dest: String): Unit = {
      val tmp = s"$root/_w"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dest)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      // b0: keeper + unrelated; b1: the SAME content again + another
      writeFlat(Seq(row(1L, dup), row(2L, "unrelated a")),
        s"$root/stream/b0.parquet")
      writeFlat(Seq(row(3L, dup), row(4L, "unrelated b")),
        s"$root/stream/b1.parquet")
      new java.io.File(s"$root/stream/b0.parquet")
        .setLastModified(System.currentTimeMillis() - 60000L)
      val got = graft.streaming.StreamingOps.streamingExactDedup(
          spark, s"$root/stream",
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet",
          maxFilesPerTrigger = Some(1)).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies"))
        .toMap
      assert(got == Map(1L -> 2L, 2L -> 1L, 4L -> 1L),
        s"registry dedup drained wrong: $got")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("corpus-side mega-bucket contributes ZERO candidates to the batch screens") {
    import spark.implicits._
    // the r9 verdict's skew bomb: a boilerplate bucket on the CORPUS
    // side of an incremental/streaming screen multiplies against every
    // batch. 100 identical corpus docs (all band buckets size 100,
    // over the cap of 64) + one batch doc with the SAME text that
    // would otherwise pair with all 100, + a genuine batch-vs-corpus
    // near-dup pair that must survive the quarantine.
    val spam = (0 until 30).map(t => s"spam$t").mkString(" ")
    val nearA = (0 until 30).map(t => s"tok$t").mkString(" ")
    val nearB = (1 until 30).map(t => s"tok$t").mkString(" ") + " tokX"
    def row(id: Long, text: String) =
      (id, text, "en", "crafted", text.length.toLong)
    val spamIds = (0 until 200).map(_.toLong).filter(_ % 10 != 9).take(100)
    val all = spamIds.map(row(_, spam)) ++ Seq(
      row(219L, spam), // batch doc hitting the mega-bucket
      row(229L, nearA), row(224L, nearB),
      row(226L, (0 until 30).map(t => s"zz$t").mkString(" ")))
    val root = SparkSpec.tempDir("graft_megacorpus_").toString
    def writeFlat(rows: Seq[(Long, String, String, String, Long)],
        dest: String): Unit = {
      val tmp = s"$root/_w"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dest)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    try {
      writeFlat(all, s"$root/corpus/documents.parquet")
      val spamSet = spamIds.toSet + 219L
      // the quarantine report names the corpus mega-bucket at size 100
      val corpusDf = all.filter(r => r._1 % 10 != 9)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val hot = Dedup.hotBuckets(Dedup.bandDocs(corpusDf)).collect()
      assert(hot.nonEmpty && hot.forall(_.getAs[Long]("bucket_size") == 100L),
        s"hot corpus buckets: ${hot.mkString(",")}")
      // batch incremental screen (q86 shape): zero spam candidates,
      // the genuine near-dup pair survives
      val inc = Dedup.incrementalMinhash(spark, s"$root/corpus").collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")))
        .toSet
      assert(inc.forall { case (a, b) =>
        !spamSet.contains(a) && !spamSet.contains(b) },
        s"quarantined corpus docs leaked into batch candidates: $inc")
      assert(inc.contains((229L, 224L)), s"genuine pair lost: $inc")
      // streaming screen (q116 shape): same quarantine per batch
      writeFlat(all.filter(_._1 % 10 == 9), s"$root/stream/b0.parquet")
      val streamed = graft.streaming.StreamingOps.streamingBandDedup(
          spark, s"$root/corpus",
          sourceDir = Some(s"$root/stream"), sourceGlob = "*.parquet")
        .collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")))
        .toSet
      assert(streamed.forall { case (a, b) =>
        !spamSet.contains(a) && !spamSet.contains(b) },
        s"quarantined corpus docs leaked into the stream screen: $streamed")
      assert(streamed.contains((229L, 224L)), s"genuine pair lost: $streamed")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }
}
