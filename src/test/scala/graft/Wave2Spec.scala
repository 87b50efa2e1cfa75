package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Semantic invariants for the wave-2 operators on sf0.001 — properties
  * the DuckDB oracle can't express (rows-only queries) or cross-operator
  * consistency checks.
  */
class Wave2Spec extends SparkSpec {

  test("sessionize: session event counts sum to total events") {
    val total = sources.Tables.events(spark, sfDir).count()
    val sessions = Sessionize.sessions(spark, sfDir)
    val summed = sessions.agg(sum(col("n_events"))).head().getLong(0)
    assert(summed == total)
  }

  test("asof join: matched order is the user's latest at-or-before ts") {
    val matched = AsOf.eventsAsOfOrders(spark, sfDir)
      .filter(col("o_orderkey").isNotNull).limit(50)
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"))
    val ord = sources.Tables.orders(spark, sfDir)
    val joined = matched
      .join(ev, "event_id")
      .join(ord, matched("o_orderkey") === ord("o_orderkey"))
    // every match respects the temporal predicate and key equality
    assert(joined.filter(col("o_orderdate").cast("timestamp_ntz") > col("ts")).count() == 0)
    assert(joined.filter(col("o_custkey") =!= col("user_id")).count() == 0)
  }

  test("brute-force ANN: ranks are 1..k descending in cosine") {
    val rows = Similarity.bruteForceTopK(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cos == cos.sorted.reverse)
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("LSH ANN never beats brute force (it searches a subset)") {
    val bf = Similarity.bruteForceTopK(spark, sfDir)
      .filter(col("rank") === 1)
      .select(col("q_id"), col("cos").as("bf_cos"))
    val lsh = Similarity.lshTopK(spark, sfDir)
      .filter(col("rank") === 1)
      .select(col("q_id"), col("cos").as("lsh_cos"))
    val both = bf.join(lsh, "q_id").collect()
    both.foreach { r =>
      assert(r.getAs[Double]("lsh_cos") <= r.getAs[Double]("bf_cos") + 1e-9)
    }
  }

  test("signBucketNative equals the HOF signBucket bit-for-bit") {
    // pins that the driver-side XXH64 plane derivation reproduces the
    // SQL expression's values exactly, at two plane counts
    val emb = Similarity.unitVectors(spark, sfDir)
    val dim = emb.select(size(col("v"))).head().getInt(0)
    Seq(4, 7).foreach { p =>
      val diff = emb
        .withColumn("hof", Similarity.signBucket(col("v"), p))
        .withColumn("native",
          Similarity.signBucketNative(spark, col("v"), p, dim))
        .filter(col("hof") =!= col("native"))
        .count()
      assert(diff == 0, s"bucket mismatch at planes=$p")
    }
    Caches.releaseAll(spark)
  }

  test("LSH plane scaling: more planes keep pair work sub-quadratic") {
    val emb = Similarity.unitVectors(spark, sfDir)
    val n = emb.count()
    def bucketStats(p: Int): (Long, Long) = {
      val counts = emb
        .withColumn("bucket", Similarity.signBucket(col("v"), p))
        .groupBy(col("bucket")).count()
      (counts.agg(max(col("count"))).head().getLong(0),
        counts.agg(sum(col("count") * col("count"))).head().getLong(0))
    }
    val (max4, _) = bucketStats(4)
    val (max6, pairWork6) = bucketStats(6)
    // growing the plane count must not grow the hottest bucket, and the
    // bucket-local pair expansion must stay far below all-pairs n²
    assert(max6 <= max4)
    assert(pairWork6 < n * n / 4,
      s"pair work $pairWork6 too close to all-pairs ${n * n}")
    // the subset-search property must survive the higher plane count
    val bf = Similarity.bruteForceTopK(spark, sfDir)
      .filter(col("rank") === 1)
      .select(col("q_id"), col("cos").as("bf_cos"))
    val lsh = Similarity.lshTopK(spark, sfDir, planes = 6)
      .filter(col("rank") === 1)
      .select(col("q_id"), col("cos").as("lsh_cos"))
    bf.join(lsh, "q_id").collect().foreach { r =>
      assert(r.getAs[Double]("lsh_cos") <= r.getAs[Double]("bf_cos") + 1e-9)
    }
  }

  test("simhash is deterministic and 64-bit complete") {
    val a = Dedup.simhash(spark, sfDir).collect()
    val b = Dedup.simhash(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.length == sources.Tables.documents(spark, sfDir).count())
  }

  test("native winnow kernel equals the HOF spec bit-for-bit") {
    val diff = sources.Tables.documents(spark, sfDir)
      .withColumn("hof", Dedup.winnowFingerprintsHof(col("text")))
      .withColumn("native", Dedup.winnowFingerprints(col("text")))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // short-doc fallback branches (0 tokens, < k tokens, < w windows)
    import spark.implicits._
    val cases = Seq("", "a", "a b", "a b c", "a b c d e",
      (1 to 30).map(i => s"t$i").mkString(" ")).toDF("text")
    val diff2 = cases
      .withColumn("hof", Dedup.winnowFingerprintsHof(col("text")))
      .withColumn("native", Dedup.winnowFingerprints(col("text")))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff2 == 0)
  }

  test("winnowing fingerprints: deterministic, edit-robust, and dense enough") {
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(50)
    val orig = docs.select(col("doc_id"),
      Dedup.winnowFingerprints(col("text")).as("fp"))
    // identical text → identical fingerprint set
    val same = orig.join(docs.select(col("doc_id"),
        Dedup.winnowFingerprints(col("text")).as("fp2")), "doc_id")
      .filter(col("fp") =!= col("fp2")).count()
    assert(same == 0)
    // a local edit (one prepended token) leaves later windows intact:
    // every doc keeps at least one shared fingerprint, and long docs
    // keep most of them
    val edited = docs.select(col("doc_id"),
      Dedup.winnowFingerprints(concat(lit("zzzedit "), col("text"))).as("fp2"))
    val rows = orig.join(edited, "doc_id")
      .select(col("doc_id"),
        size(array_intersect(col("fp"), col("fp2"))).as("shared"),
        size(col("fp")).as("n"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("shared") >= 1,
        s"doc ${r.getAs[Long]("doc_id")} lost all fingerprints to a 1-token edit")
    }
    // selection density ~2/(w+1): fingerprints are a small fraction of
    // grams but never empty for non-trivial docs
    rows.foreach(r => assert(r.getAs[Int]("n") >= 1))
  }

  test("winnow near-dup pairs equal brute-force shared-fingerprint counts") {
    import spark.implicits._
    val minShared = 2
    val maxPostings = 20
    // corpus = real docs + crafted near-dups (doc pairs sharing long
    // segments, guaranteeing a non-vacuous expected pair set) + a
    // boilerplate run shared by > maxPostings docs that the stop-
    // fingerprint cap must drop
    val boiler = (1 to 40).map(i => s"common boiler segment token$i").mkString(" ")
    val segA = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val segB = (1 to 60).map(i => s"beta$i").mkString(" ")
    val crafted =
      Seq((9001L, s"$segA unique tail one"),
        (9002L, s"$segA unique tail two entirely"),
        (9003L, s"$segB other head $segA"),
        (9004L, s"$segB standalone")) ++
        (9100L until 9130L).map(i => (i, s"$boiler distinct$i"))
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .union(crafted.toDF("doc_id", "text"))
    // ground truth from the independently-specified HOF fingerprints,
    // with the same cap rule applied doc-set-wise
    val fps = docs
      .select(col("doc_id"), Dedup.winnowFingerprintsHof(col("text")).as("fp"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet)
    val byFp = fps.flatMap { case (id, s) => s.iterator.map(_ -> id) }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.map(_._2).toSet }
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byFp.values.filter(ds => ds.size >= 2 && ds.size <= maxPostings)
      .foreach { ds =>
        val sorted = ds.toSeq.sorted
        for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
          val k = (sorted(i), sorted(j))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
        }
      }
    val expected = pairCounts.collect {
      case ((a, b), n) if n >= minShared => (a, b, n)
    }.toSet
    val got = Dedup.winnowNearDupDf(docs, minShared, maxPostings).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSet
    assert(got == expected)
    // the crafted segment-sharers are found; the boilerplate cluster
    // (30 docs > maxPostings sharing only the capped run) is not
    assert(got.exists { case (a, b, _) => a == 9001L && b == 9002L })
    assert(got.exists { case (a, b, _) => Set(a, b) == Set(9001L, 9003L) })
    val boilerIds = (9100L until 9130L).toSet
    assert(!got.exists { case (a, b, _) =>
      boilerIds.contains(a) && boilerIds.contains(b) })
  }

  test("native simhash kernel equals the relational spec bit-for-bit") {
    val native = Dedup.simhash(spark, sfDir).collect()
    val spec = Dedup.simhashRelational(spark, sfDir).collect()
    assert(native.length == spec.length)
    native.zip(spec).foreach { case (n, s) => assert(n == s) }
  }

  test("simhash banding has exact recall at hamming <= 3 (pigeonhole)") {
    val got = Dedup.simhashNearDup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming")))
    got.foreach { case (a, b, h) => assert(a < b && h <= 3) }
    // ground truth: all-pairs hamming on the collected signatures
    val sigs = Dedup.simhash(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(got.toSet == expected,
      s"banding returned ${got.length} pairs, all-pairs ground truth ${expected.size}")
  }

  test("minhash candidates have verified jaccard >= 0.5") {
    val cands = Dedup.minhashCandidates(spark, sfDir).collect()
    cands.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.5)
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
    }
  }

  test("weighted mix: en keeps everything, sampled langs keep a strict subset") {
    val rows = TextOps.weightedMix(spark, sfDir).collect()
    val byLang = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (enDocs, enKept, enRatio) = byLang("en")
    assert(enKept == enDocs && enRatio == 1.0)
    byLang.foreach { case (_, (docs, kept, ratio)) =>
      assert(kept <= docs && ratio >= 0.0 && ratio <= 1.0)
    }
    // at least one non-en language actually downsampled
    assert(byLang.exists { case (l, (docs, kept, _)) => l != "en" && kept < docs })
    // determinism: a rerun keeps exactly the same docs
    assert(TextOps.weightedMix(spark, sfDir).collect().sameElements(rows))
  }

  test("exact dedup keeps every distinct content hash once") {
    val docs = sources.Tables.documents(spark, sfDir)
    val distinctTexts = docs.select(col("text")).distinct().count()
    assert(Dedup.exactDedup(spark, sfDir).count() == distinctTexts)
  }

  test("semdedup: kept/dropped exactly matches the brute-force greedy rule") {
    import operators.Similarity
    val got = Similarity.semDedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getAs[Long]("kept"))).toMap
    assert(got.nonEmpty)
    assert(got.values.exists(_._2 == 0L), "no near-dups pruned")
    assert(got.values.exists(_._2 == 1L), "everything pruned")
    // recompute on the driver: unit vectors, same fold order
    val u = Similarity.unitVectors(spark, sfDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    // cluster's lowest id has no lower-id neighbor → always kept
    got.groupBy(_._2._1).foreach { case (_, ms) =>
      val lowest = ms.keys.min
      assert(ms(lowest)._2 == 1L, s"cluster-min $lowest not kept")
    }
    // dropped ⇔ some lower-id same-cluster member has cos >= tau
    got.foreach { case (id, (cid, kept)) =>
      val hasNear = got.exists { case (other, (ocid, _)) =>
        ocid == cid && other < id && dot(u(id), u(other)) >= 0.3
      }
      assert((kept == 0L) == hasNear, s"vec $id kept=$kept hasNear=$hasNear")
    }
    Caches.releaseAll(spark)
  }

  test("incremental semdedup: verdicts match a brute-force cluster scan") {
    import operators.Similarity
    val got = Similarity.incrementalSemDedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getAs[Long]("n_dups"),
          r.getAs[Long]("is_dup"),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(got.nonEmpty && got.keySet.forall(_ % 10 == 9))
    assert(got.values.exists(_._3 == 1L), "no batch vec flagged")
    assert(got.values.exists(_._3 == 0L), "everything flagged")
    // driver-side replay: same unit vectors, same q97 assignment rule
    val u = Similarity.unitVectors(spark, sfDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val cents = u.filter(_._1 < 8)
    def assign(v: Array[Double]): Long =
      cents.toSeq.map { case (c, cv) => (dot(v, cv), c) }
        .maxBy { case (s, c) => (s, -c) }._2
    val cid = u.map { case (id, v) => id -> assign(v) }
    val byCid = u.keys.toSeq.groupBy(cid)
    got.foreach { case (id, (gcid, nDups, isDup, best)) =>
      assert(gcid == cid(id), s"vec $id cluster")
      // other side = corpus members + EARLIER-id batch members (the
      // r10 state-append widening: new-vs-new duplicates screen too)
      val hits = byCid.getOrElse(gcid, Seq.empty)
        .filter(o => o % 10 != 9 || o < id)
        .map(o => (o, dot(u(id), u(o)))).filter(_._2 >= 0.3)
      assert(nDups == hits.size.toLong, s"vec $id n_dups")
      assert((isDup == 1L) == hits.nonEmpty, s"vec $id verdict")
      val expBest = hits.sortBy { case (o, s) => (-s, o) }.headOption.map(_._1)
      assert(best == expBest, s"vec $id best match")
    }
    Caches.releaseAll(spark)
  }

  test("scaled semdedup equals the fixed-k path where k resolves equal") {
    // at the 500-vector fixture, max(8, n/3000) = 8 = q97's k, so the
    // row-local literal argmax of the scaled twin must reproduce the
    // crossJoin+groupBy assignment (and the shared prune) EXACTLY
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Long]("kept"))).toSeq
    val fixed = rows(Similarity.semDedup(spark, sfDir))
    val scaled = rows(Similarity.semDedupScaled(spark, sfDir))
    assert(scaled == fixed)
    Caches.releaseAll(spark)
  }

  test("kmeans: output is the true Euclidean argmin over live clusters") {
    import operators.Similarity
    val got = Similarity.kmeansAssign(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Double]("score")))
    assert(got.nonEmpty)
    assert(got.map(_._2).distinct.length > 1, "degenerate single cluster")
    // recompute the 2-round Lloyd model on the driver with the same
    // fold orders and fixed-point update the engine uses
    val vecs = sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def sumsq(c: Array[Double]) = c.foldLeft(0.0)((a, x) => a + x * x)
    var model = (0L until 8L).map(vecs).toArray
    for (_ <- 1 to 2) {
      val bias = model.map(sumsq(_) / 2)
      val asn = vecs.map { case (id, v) =>
        id -> model.indices.maxBy(c => (dot(v, model(c)) - bias(c), -c))
      }
      model = model.indices.map { c =>
        val members = asn.collect { case (id, `c`) => vecs(id) }.toSeq
        if (members.isEmpty) model(c)
        else {
          val dim = model(c).length
          (0 until dim).map { j =>
            val s = members.map(v => math.floor(v(j) * 1e12 + 0.5).toLong).sum
            s.toDouble / 1e12 / members.size
          }.toArray
        }
      }.toArray
    }
    val bias = model.map(sumsq(_) / 2)
    got.foreach { case (id, cid, score) =>
      val scores = model.indices.map(c => dot(vecs(id), model(c)) - bias(c))
      val best = scores.indices.maxBy(c => (scores(c), -c))
      assert(cid == best, s"vec $id assigned $cid, argmin is $best")
      assert(score == scores(best), s"vec $id score drift")
    }
    Caches.releaseAll(spark)
  }

  test("semdedup-kmeans: trained clusters == q124, prune == greedy rule") {
    import operators.Similarity
    val got = Similarity.semDedupKmeans(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cid"), r.getAs[Long]("kept"))).toMap
    assert(got.nonEmpty)
    // the clustering IS q124's assignment (same trainer, same params)
    val asn = Similarity.kmeansAssign(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    assert(got.view.mapValues(_._1).toMap == asn, "cluster drift vs q124")
    // prune: dropped ⇔ a lower-id same-cluster member within tau cosine
    val u = Similarity.unitVectors(spark, sfDir)
      .filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    got.foreach { case (id, (cid, kept)) =>
      val hasNear = got.exists { case (other, (ocid, _)) =>
        ocid == cid && other < id && dot(u(id), u(other)) >= 0.3
      }
      assert((kept == 0L) == hasNear, s"vec $id kept=$kept hasNear=$hasNear")
    }
    Caches.releaseAll(spark)
  }

  test("multi-probe LSH: recall never below single-probe, never above brute force") {
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q ->
        rs.map(r => (r.getAs[Long]("neighbor"), r.getAs[Double]("cos"))).toMap }
    val bf = topSets(Similarity.bruteForceTopK(spark, sfDir))
    val single = topSets(Similarity.lshTopK(spark, sfDir))
    val multi = topSets(Similarity.lshMultiProbeTopK(spark, sfDir))
    bf.foreach { case (q, truth) =>
      val rS = single.getOrElse(q, Map.empty).keySet.intersect(truth.keySet).size
      val rM = multi.getOrElse(q, Map.empty).keySet.intersect(truth.keySet).size
      // probing supersets of the single-probe bucket can only help
      assert(rM >= rS, s"query $q: multi-probe recall $rM < single $rS")
      // and an ANN never beats the exact baseline's best cosine
      val bestTruth = truth.values.max
      multi.getOrElse(q, Map.empty).values.foreach(c =>
        assert(c <= bestTruth + 1e-9))
    }
    Caches.releaseAll(spark)
  }

  test("banding capacity guard: q109's loose banding blows up where q111's stays linear") {
    import spark.implicits._
    // moderately-overlapping corpus: each doc concatenates 10 phrases
    // drawn (seeded, deterministic) from a shared pool of 40 five-token
    // phrases — typical pairs share a few phrases (jaccard ~0.1-0.3)
    // without being near-dups, exactly the regime where the oracle's
    // 2-row bands admit spurious candidates (~jaccard² each) but the
    // production 4-row bands (~jaccard⁴) do not. Pins the documented
    // contract: q109's banding is oracle parity, q111 is the screening
    // path (COVERAGE.md "Measured scale growth": 6.1× at 10× corpus).
    val phrases = (0 until 40).map(p =>
      (0 until 5).map(t => s"p${p}t$t").mkString(" "))
    val rnd = new scala.util.Random(42)
    val n = 200
    val docs = (0 until n).map { i =>
      val text = Seq.fill(10)(phrases(rnd.nextInt(40))).mkString(" ")
      (i.toLong, text, "en", "crafted", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // cap disabled here: this guard measures the RAW expansion of the
    // loose banding (the quarantine that bounds it in production is
    // pinned by the mega-bucket test below)
    val loose = operators.Dedup
      .oracleBandingPairs(docs, bucketCap = Int.MaxValue).count()
    val tight = operators.Dedup.prodBandingPairs(docs).count()
    info(s"loose(q109)=$loose tight(q111)=$tight n=$n")
    // production banding: candidate work stays far below linear in n
    // (measured: 3 candidates for 200 docs)
    assert(tight <= n / 4,
      s"production banding produced $tight candidates for $n docs")
    // oracle banding: super-linear spurious-candidate expansion — the
    // measured scale-killer the docstring warns about (measured: 683)
    assert(loose > 3L * n,
      s"loose banding no longer blows up ($loose candidates) — " +
        "if banding changed, re-derive the q109 oracle instead")
    assert(loose > 50L * tight)
    Caches.releaseAll(spark)
  }

  test("hot-bucket cap: a mega-bucket is quarantined and reported, normal pairs survive") {
    import spark.implicits._
    // 100 identical docs — every band bucket holds all 100, far over
    // the cap (64); plus one genuine near-dup pair and two unrelated
    // docs. Without the cap the mega-cluster alone is 4,950 candidate
    // pairs; with it, candidate work from that bucket is ZERO and the
    // bucket is surfaced in the quarantine report instead.
    val spam = (0 until 30).map(t => s"spam$t").mkString(" ")
    val nearA = (0 until 30).map(t => s"tok$t").mkString(" ")
    val nearB = (1 until 30).map(t => s"tok$t").mkString(" ") + " tokX"
    val docs = ((0 until 100).map(i => (i.toLong, spam)) ++
      Seq((200L, nearA), (201L, nearB),
        (300L, (0 until 30).map(t => s"aa$t").mkString(" ")),
        (301L, (0 until 30).map(t => s"bb$t").mkString(" "))))
      .map { case (id, text) => (id, text, "en", "crafted", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val banded = operators.Dedup.md5BandedSignatures(
      operators.Dedup.md5ShingledDocs(docs))
    // the quarantine report names the mega-bucket at its true size
    val hot = operators.Dedup.hotBuckets(banded).collect()
    assert(hot.nonEmpty && hot.forall(_.getAs[Long]("bucket_size") == 100L),
      s"hot buckets: ${hot.mkString(",")}")
    // capped candidates: no pair touches the quarantined cluster…
    val capped = operators.Dedup.oracleBandingPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.forall { case (a, b) => a >= 200L && b >= 200L },
      s"quarantined docs leaked into candidates: $capped")
    // …while the genuine near-dup pair still bands together
    assert(capped.contains((200L, 201L)))
    // uncapped, the mega-cluster alone would contribute 100·99/2 pairs
    val uncapped = operators.Dedup
      .oracleBandingPairs(docs, bucketCap = Int.MaxValue).count()
    assert(uncapped >= 4950L + capped.size,
      s"uncapped count $uncapped — mega-bucket no longer quadratic?")
    Caches.releaseAll(spark)
  }

  test("ngram novelty: hand-computed fractions on a crafted corpus") {
    import spark.implicits._
    // doc 0 first owner of all 3 of its grams; doc 1 repeats doc 0
    // verbatim (novelty 0); doc 2 shares exactly 2 of its 5 grams
    val docs = Seq(
      (0L, "a b c d e"),           // grams: abc bcd cde
      (1L, "a b c d e"),           // all seen in 0 → 0.0
      (2L, "a b c d q r s"))       // abc bcd seen; cdq dqr qrs new → 0.6
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("novelty").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.ngramNovelty(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Long]("n_seen"),
            r.getAs[Double]("novelty"))).toMap
      assert(got == Map(
        0L -> (3L, 0L, 1.0),
        1L -> (3L, 3L, 0.0),
        2L -> (5L, 2L, 0.6)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("vocab report: hand-computed tf/df/coverage + top-k boundary") {
    import spark.implicits._
    // 10 tokens total: aa tf=5 (docs 0,1), bb tf=3 (docs 0,1,2),
    // cc tf=2 (doc 2); topK=2 keeps aa,bb and drops cc
    val docs = Seq(
      (0L, "aa aa bb"),
      (1L, "aa aa aa bb"),
      (2L, "bb cc cc"))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("vocab").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.vocabReport(spark, dir, topK = 2).collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("tf"),
          r.getAs[Long]("df"), r.getAs[Double]("coverage"))).toSeq
      assert(got == Seq(
        ("aa", 5L, 2L, 0.5),
        ("bb", 3L, 3L, 0.3)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("hashing vectorizer: buckets partition n_tokens; md5-nibble golden") {
    val got = operators.TextOps.hashingVectorizer(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val vec = r.getString(2).split(',').map(_.toLong).toSeq
      assert(vec.length == 16)
      assert(vec.sum == r.getAs[Long]("n_tokens"),
        s"doc ${r.getLong(0)}: bucket counts don't partition the tokens")
    }
    // golden: bucket = first md5 nibble, computed independently
    import spark.implicits._
    val docs = Seq((0L, "aa aa bb", "en", "crafted", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.tempDir("hashvec").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val vec = operators.TextOps.hashingVectorizer(spark, dir)
        .collect().head.getString(2).split(',').map(_.toLong).toSeq
      def nibble(s: String): Int = Integer.parseInt(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 1), 16)
      val expected = Seq.tabulate(16)(b =>
        (if (nibble("aa") == b) 2L else 0L) +
          (if (nibble("bb") == b) 1L else 0L))
      assert(vec == expected)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
