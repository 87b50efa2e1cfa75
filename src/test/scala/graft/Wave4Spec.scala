package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Invariant specs for the round-9 continuation wave (q178–q183):
  * value-level correctness is the DuckDB oracle's job; these pin the
  * structural properties a hash-compare can't articulate (full-fill,
  * coverage, state-fold equality, golden graph shapes).
  */
class Wave4Spec extends SparkSpec {

  test("q178: every sequence but each shard's last is exactly full, " +
    "and per-shard starts add up to the shard's doc count") {
    val seqs = TextOps.packedSequences(spark, sfDir).collect()
    val byShard = seqs.groupBy(_.getAs[String]("shard"))
    for ((_, rows) <- byShard) {
      val sorted = rows.sortBy(_.getAs[Long]("seq_id"))
      sorted.init.foreach(r => assert(r.getAs[Long]("n_tokens") == 64L))
      assert(sorted.last.getAs[Long]("n_tokens") <= 64L)
      assert(sorted.last.getAs[Long]("n_tokens") >= 1L)
      // contiguous sequence ids from 0
      assert(sorted.map(_.getAs[Long]("seq_id")).toSeq ==
        sorted.indices.map(_.toLong))
    }
    // each doc starts in exactly one sequence, so Σ n_starts = n docs
    val totalStarts = seqs.map(_.getAs[Long]("n_starts")).sum
    val nDocs = graft.sources.Tables.documents(spark, sfDir)
      .filter(graft.functions.TextAnalytics.tokenCount(col("text")) > 0)
      .count()
    assert(totalStarts == nDocs)
    // a doc contributing tokens is counted at least where it starts
    seqs.foreach(r =>
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_starts")))
  }

  test("q179: chunk grid covers every token exactly once at stride " +
    "offsets, and chunk 0's digest equals the direct md5 of the head") {
    val chunks = TextOps.docChunking(spark, sfDir)
    // per doc: starts are 0, 10, 20, …; last chunk reaches the end
    val bad = chunks.groupBy(col("doc_id"))
      .agg(max(col("start") + col("n_chunk_tokens")).as("covered"),
        max(col("start")).as("last_start"),
        count(lit(1)).as("n_chunks"))
      .join(graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          graft.functions.TextAnalytics.tokenCount(col("text"))
            .cast("long").as("n")),
        "doc_id")
      .filter(col("covered") =!= col("n") ||
        col("last_start") =!= (col("n_chunks") - 1) * 10)
      .count()
    assert(bad == 0)
    // chunk 0 digest == md5 of the first min(20, n) tokens
    val toks = graft.functions.TextAnalytics.tokens(col("text"))
    val expect = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(array_join(slice(toks, 1, 20), " ").cast("binary")).as("em"))
    val mismatched = chunks.filter(col("chunk_idx") === 0)
      .join(expect, "doc_id")
      .filter(col("chunk_md5") =!= col("em"))
      .count()
    assert(mismatched == 0)
  }

  test("q180: selection excludes the target source and ranks by the " +
    "fixed-point key") {
    val top = TextOps.dsirWeights(spark, sfDir, k = 50).collect()
    assert(top.nonEmpty && top.length <= 50)
    val targetIds = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top.forall(r => !targetIds.contains(r.getAs[Long]("doc_id"))))
    val keys = top.map(r =>
      (math.floor(r.getAs[Double]("score") * 1e9 + 0.5).toLong,
        -r.getAs[Long]("doc_id")))
    assert(keys.toSeq == keys.sortBy(k => (-k._1, -k._2)).toSeq)
  }

  test("q181: one row per dimension, counts equal the table size, " +
    "variance is non-negative") {
    val prof = Similarity.dimProfile(spark, sfDir).collect()
    val nVecs = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(prof.map(_.getAs[Long]("dim")).toSeq ==
      prof.indices.map(_.toLong))
    prof.foreach { r =>
      assert(r.getAs[Long]("n") == nVecs)
      assert(r.getAs[Double]("var_pop") >= -1e-9)
      assert(r.getAs[Double]("vmin") <= r.getAs[Double]("vmax"))
    }
  }

  test("q182: the drained streaming ledger equals the batch aggregate") {
    val streamed = graft.streaming.StreamingOps
      .streamingQualityGate(spark, sfDir).collect()
    Caches.releaseAll(spark)
    val batch = graft.sources.Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seen"),
        sum(graft.functions.TextAnalytics.qualityFlag(col("text")))
          .as("n_pass"))
      .orderBy(col("source")).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("source") == b.getAs[String]("source"))
      assert(s.getAs[Long]("n_seen") == b.getAs[Long]("n_seen"))
      assert(s.getAs[Long]("n_pass") == b.getAs[Long]("n_pass"))
    }
  }

  test("q183 golden: K3 plus a pendant — one triangle at the right " +
    "nodes, degrees intact, pendant untouched") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("a", "b")
    val rows = Analytics.triangleCensus(edges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles")))
    assert(rows.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L),
      (4L, 1L, 0L)))
  }

  test("q184: Count-Min never under-counts and the audit covers the " +
    "top tokens in exact-count order") {
    val rows = TextOps.countMinHeavyHitters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Long]("cm_estimate") >= r.getAs[Long]("tf") &&
        r.getAs[Long]("overcount") ==
          r.getAs[Long]("cm_estimate") - r.getAs[Long]("tf")))
    val tfs = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("tf"))
    assert(tfs.toSeq == tfs.sortBy(-_).toSeq)
  }

  test("q185: the drained streaming screen equals the batch " +
    "decontamination pair set") {
    val streamed = graft.streaming.StreamingOps
      .streamingDecontamination(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Caches.releaseAll(spark)
    val batch = TextOps.decontamination(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("q186: yield histogram masses reconcile (docs, removals, chars)") {
    val rows = Dedup.dedupYield(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val nc = r.getAs[Long]("n_clusters")
      assert(r.getAs[Long]("n_docs") == size * nc)
      // keep-one-per-cluster removes size-1 docs per cluster
      assert(r.getAs[Long]("n_docs_removed") == (size - 1) * nc)
      assert(r.getAs[Long]("chars_removed") <= r.getAs[Long]("chars_total"))
      if (size == 1) assert(r.getAs[Long]("chars_removed") == 0L)
    }
  }

  test("q187: recall@k is a valid fraction over exactly the probe set") {
    val rows = Similarity.annRecallReport(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("q_id")).toSeq == (0L until 5L))
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 5L)
      assert(math.abs(r.getAs[Double]("recall") - hits / 5.0) < 1e-12)
    }
  }

  test("q188: cube levels reconcile — every grouping level carries " +
    "the same doc and token mass") {
    val rows = TextOps.mixCube(spark, sfDir).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L))
    val masses = byGid.view.mapValues(rs =>
      (rs.map(_.getAs[Long]("n_docs")).sum,
        rs.map(_.getAs[Long]("n_tokens")).sum)).toMap
    assert(masses.values.toSet.size == 1) // all levels sum to the total
    assert(byGid(3L).length == 1) // single grand-total row
    assert(byGid(3L).head.getAs[String]("source") == "(all)")
  }

  test("q189: three rows per day, ranks contiguous, delta arithmetic") {
    val rows = Analytics.eventTrending(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("day")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to rs.length).toSeq)
      assert(rs.length <= 3)
    }
    rows.foreach(r => assert(r.getAs[Long]("rk_delta") ==
      r.getAs[Long]("prev_rk") - r.getAs[Long]("rk")))
  }

  test("q190: Zipf fit is a sane regression (negative slope, R2 in " +
    "[0,1], vocab-sized n)") {
    val r = TextOps.zipfFit(spark, sfDir).collect()(0)
    val vocab = graft.sources.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextAnalytics.tokens(col("text")))
        .as("t")).distinct().count()
    assert(r.getAs[Long]("n_types") == vocab)
    assert(r.getAs[Double]("slope") < 0.0)
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12)
  }

  test("q191: prefix-filtered join is EXACT — equals brute-force " +
    "all-pairs and contains every LSH-recalled pair") {
    val pf = Dedup.prefixFilterJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on the same md5-prefix shingle sets
    val sh = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.TextAnalytics.shingles(col("text"), 3))
          .as("gram"))
      .select(col("doc_id"),
        substring(md5(col("gram").cast("binary")), 1, 16).as("gh"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val brute = sh.select(col("doc_id").as("id_a"), col("gh"))
      .join(sh.select(col("doc_id").as("id_b"), col("gh")), "gh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("la")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("lb")), "id_b")
      .filter(col("inter").cast("double") /
        (col("la") + col("lb") - col("inter")).cast("double") >= 0.5)
      .collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pf == brute)
    val lsh = Dedup.minhashOracledDf(
      graft.sources.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(pf))
  }

  test("q191 skew: shared boilerplate across non-duplicates generates " +
    "ZERO candidates (rare-first prefixes exclude the hot token), " +
    "while a genuine dup pair still pairs") {
    import spark.implicits._
    val boiler = "copyright all rights reserved contact us"
    // 100 docs sharing ONLY the boilerplate phrase; the df-ordered
    // prefix is filled by each doc's unique filler shingles
    val docs = (0 until 100).map { i =>
      val filler = (0 until 25).map(t => s"u${i}x$t").mkString(" ")
      (i.toLong, s"$filler $boiler")
    } :+ (900L, "dup a b c d e f g h i j k l m n o p q r s t") :+
      (901L, "dup a b c d e f g h i j k l m n o p q r s t")
    val out = Dedup.prefixFilterJoinDf(
      docs.toDF("doc_id", "text"), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Caches.releaseAll(spark)
    assert(out.toSeq == Seq((900L, 901L)))
  }

  test("q192: KS stats are valid fractions over the real source sizes " +
    "at observed lengths") {
    val rows = TextOps.lengthKsDrift(spark, sfDir).collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(rows.map(_.getAs[Long]("n_s")).sum == docs.count())
    val lengths = docs.select(col("n_chars")).distinct()
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val ks = r.getAs[Double]("ks")
      assert(ks >= 0.0 && ks <= 1.0)
      assert(lengths.contains(r.getAs[Long]("at_chars")))
    }
  }

  test("q193 golden: a delta edge MERGES two historical components " +
    "and composition yields the global min label") {
    import spark.implicits._
    // historical comps {1,2} and {3,4}; batch doc 9 bridges them
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 9L), (3L, 9L))
      .toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val out = Dedup.incrementalCCFrom(pairs, ids,
      col("doc_id") === 9L,
      col("id_a") === 9L || col("id_b") === 9L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("n_members")))
    Caches.releaseAll(spark)
    assert(out.toSeq == Seq((1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L),
      (4L, 1L, 5L), (5L, 5L, 1L), (9L, 1L, 5L)))
  }

  test("q193: incremental labels equal the from-scratch q148 clustering") {
    val inc = Dedup.incrementalCC(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toMap
    Caches.releaseAll(spark)
    val full = Dedup.canonicalSelection(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toMap
    assert(inc == full)
  }

  test("q194: three tokens per label, lift-ranked, tokens drawn from " +
    "the label's own documents") {
    val rows = TextOps.labelLexicon(spark, sfDir).collect()
    rows.groupBy(_.getAs[Long]("label")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to rs.length).toSeq)
      val lifts = rs.sortBy(_.getAs[Long]("rk"))
        .map(r => math.floor(r.getAs[Double]("lift") * 1e9 + 0.5).toLong)
      assert(lifts.toSeq == lifts.sortBy(-_).toSeq)
    }
    rows.foreach(r => assert(r.getAs[Long]("tf_l") >= 1L))
  }

  test("q195: overlap accounting is exact set arithmetic on the two " +
    "independently-computed top-15 sets") {
    val r = TextOps.rankerAgreement(spark, sfDir).collect()(0)
    val bm = TextOps.bm25TopK(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val ti = TextOps.tfidfCosineTopK(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(r.getAs[Long]("n_bm25") == bm.size)
    assert(r.getAs[Long]("n_tfidf") == ti.size)
    assert(r.getAs[Long]("n_common") == (bm intersect ti).size)
    assert(r.getAs[Double]("overlap_jaccard") ==
      (bm intersect ti).size.toDouble / (bm union ti).size)
  }

  test("q196: streaming incremental CC over a 3-file split drains to " +
    "the from-scratch clustering") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val root = SparkSpec.tempDir("graft_iccsplit_").toString
    try {
      for (b <- 0 until 3) {
        val tmp = s"$root/_w"
        docs.filter(col("doc_id") % 3 === b).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$root/b$b.documents.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val streamed = graft.streaming.StreamingOps
        .streamingIncrementalCC(spark, sfDir,
          sourceDir = Some(root), sourceGlob = "*.documents.parquet",
          maxFilesPerTrigger = Some(1))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toMap
      Caches.releaseAll(spark)
      val full = Dedup.canonicalSelection(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toMap
      assert(streamed == full)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q197: S-curve recall is monotone in bands-per-perm and valid") {
    val rows = Dedup.bandingPlanner(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("r"))
    assert(rows.map(r => (r.getAs[Long]("r"), r.getAs[Long]("b"))).toSeq ==
      Seq((1L, 8L), (2L, 4L), (4L, 2L), (8L, 1L)))
    val recalls = rows.map(_.getAs[Double]("expected_recall"))
    recalls.foreach(x => assert(x >= 0.0 && x <= 1.0))
    // shorter bands (smaller r, more bands) can only raise collision
    // probability at every jaccard, so recall must be non-increasing
    assert(recalls.toSeq == recalls.sortBy(-_).toSeq)
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length == 1)
  }

  test("q198: transition rows normalize to 1 per from_type and the " +
    "total mass equals events minus session starts") {
    val rows = Sessionize.eventTransitions(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-9)
    }
    val nTransitions = rows.map(_.getAs[Long]("n")).sum
    val nEvents = graft.sources.Tables.events(spark, sfDir).count()
    val nSessions = Sessionize.sessions(spark, sfDir).count()
    assert(nTransitions == nEvents - nSessions)
  }

  test("q199: exactly k docs per source, each from its own source, " +
    "ranks contiguous") {
    val rows = TextOps.groupedWeightedSample(spark, sfDir).collect()
    val srcOf = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to rs.length).toSeq)
      assert(rs.length <= 10)
      rs.foreach(r => assert(srcOf(r.getAs[Long]("doc_id")) == s))
    }
  }

  test("q200: deciles are monotone per source and the median sits at " +
    "the exact rank") {
    val rows = TextOps.sourceDeciles(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("decile"))
      assert(sorted.map(_.getAs[Long]("decile")).toSeq == (1L to 9L))
      val vals = sorted.map(_.getAs[Long]("value"))
      assert(vals.toSeq == vals.sorted.toSeq)
    }
    // spot-check one source's median against a direct sort
    val s0 = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("source") === "src0")
      .select(col("n_chars")).collect().map(_.getLong(0)).sorted
    val med = rows.find(r => r.getAs[String]("source") == "src0" &&
      r.getAs[Long]("decile") == 5L).get.getAs[Long]("value")
    assert(med == s0(math.ceil(5.0 * s0.length / 10.0).toInt - 1))
  }

  test("q201: SCD2 invariants — one current version per user, " +
    "contiguous validity chain, adjacent versions differ") {
    val rows = Sessionize.scd2History(spark, sfDir).collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ==
        (1L to rs.length).toSeq)
      assert(sorted.count(_.getAs[Long]("is_current") == 1L) == 1)
      assert(sorted.last.getAs[Long]("is_current") == 1L)
      assert(sorted.last.getAs[String]("valid_to") == null)
      // each version closes exactly where the next opens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("valid_to") ==
            b.getAs[String]("valid_from"))
          assert(a.getAs[String]("attr") != b.getAs[String]("attr"))
        case _ => ()
      }
    }
  }

  test("q202: every probe resolves to at most one version, and a probe " +
    "AT a change instant resolves to that event's own type") {
    val rows = Sessionize.scd2Resolve(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("event_id")).distinct.length ==
      rows.length)
    // probes that are themselves change points must resolve to their
    // own event_type (the [from, to) half-open convention)
    val types = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_id") % 100 === 0)
      .select(col("event_id"), col("event_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hist = Sessionize.scd2History(spark, sfDir)
      .filter(col("is_current") === 1L).count()
    assert(hist > 0)
    rows.foreach { r =>
      val own = types(r.getAs[Long]("event_id"))
      val resolved = r.getAs[String]("attr")
      // resolved attr equals the event's own type UNLESS the event is
      // a non-change (then it matches its run's opening type — which
      // is still its own type). So they always agree.
      assert(resolved == own,
        s"event ${r.getAs[Long]("event_id")}: $resolved != $own")
    }
  }

  test("q203: streaming SCD2 over a 3-way chronological split drains " +
    "to the from-scratch q201 history") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .orderBy(col("ts"), col("event_id"))
    val bounds = ev.select(col("ts")).collect().map(_.get(0))
    val n = bounds.length
    val (t1, t2) = (bounds(n / 3), bounds(2 * n / 3))
    val root = SparkSpec.tempDir("graft_scd2split_").toString
    try {
      val parts = Seq(
        ev.filter(col("ts") < lit(t1)),
        ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2)),
        ev.filter(col("ts") >= lit(t2)))
      for ((p, b) <- parts.zipWithIndex) {
        val tmp = s"$root/_w"
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$root/b$b.events.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Thread.sleep(1100) // ascending modtimes pin the batch order
      }
      val streamed = graft.streaming.StreamingOps
        .streamingScd2(spark, sfDir,
          sourceDir = Some(root), sourceGlob = "*.events.parquet",
          maxFilesPerTrigger = Some(1))
        .collect().map(_.toSeq).toSeq
      Caches.releaseAll(spark)
      val batch = Sessionize.scd2History(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q183: triangle mass divisible by 3 and degrees match an " +
    "independent recount of the verified pair graph") {
    val census = Analytics.dupGraphTriangles(spark, sfDir)
    val triSum = census.agg(sum(col("n_triangles"))).collect()(0).getLong(0)
    assert(triSum % 3 == 0)
    val edges = Dedup.minhashOracledDf(
      graft.sources.Tables.documents(spark, sfDir))
      .select(col("id_a"), col("id_b"))
    val recount = edges.select(col("id_a").as("doc_id"))
      .unionByName(edges.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("d2"))
    val bad = census.join(recount, "doc_id")
      .filter(col("degree") =!= col("d2")).count()
    assert(bad == 0)
    assert(census.count() == recount.count())
  }
}
