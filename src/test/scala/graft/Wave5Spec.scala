package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Invariant specs for the round-9 final wave (q204+): golden graph
  * shapes and convergence guards the DuckDB hash-compare can't state.
  */
class Wave5Spec extends SparkSpec {

  test("q205 plan guard: the two-phase prefix sum leaves NO global " +
    "window and no single-partition exchange of row-grain data") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // multi-partition input would force any global window's
    // SinglePartition exchange into the plan (the sf0.001 single-file
    // scan would satisfy the distribution without one) — the r9 fix
    // replaced that window with the two-phase per-partition prefix
    // sum, so the guard now asserts ABSENCE, not payload narrowness
    val docs = graft.sources.Tables.documents(spark, sfDir).repartition(4)
    // the adaptive wrapper's executedPlan, not sparkPlan: implicit
    // exchanges only exist after AQE's preparation rules (which include
    // EnsureRequirements) have produced the initial adaptive plan
    val planned = TextOps.heapsLawDf(spark, docs)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // no window may run globally (empty partition spec = one task
    // sorts everything)
    val globalWindows = planned.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"global window survived the two-phase rewrite: $globalWindows")
    // the only single-partition exchanges left are scalar-aggregate
    // finals (one partial row per partition — #partitions rows, not
    // data grain)
    planned.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition => e.child
    }.foreach { child =>
      assert(child.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
          _: SortAggregateExec => true
        case _ => false
      }, s"single-partition exchange over non-aggregate input: $child")
    }
  }

  test("asOfAttribution: the linear window form equals the classic " +
    "as-of JOIN form per target row") {
    import graft.operators.AsOf
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val linear = AsOf.asOfAttribution(ev,
        isSource = col("event_type") === "click",
        isTarget = col("event_type") === "purchase",
        horizonSeconds = 3600L)
      .select(col("event_id"), col("asof_src_ts"), col("asof_matched"))
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (Option(r.get(1)).map(_.toString),
          r.getAs[Long]("asof_matched"))).toMap
    // the join form: target ⋈ source on key, strictly-earlier (ts,
    // tie) order, argmax source ts, horizon check — the oracle the
    // linear plan must reproduce
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cuser"), col("ts").as("cts"),
        col("event_id").as("cid"))
    val joined = p.join(c, p("user_id") === c("cuser") &&
        (c("cts") < p("pts") ||
          (c("cts") === p("pts") && c("cid") < p("pid"))), "left")
      .groupBy(col("pid"), col("pts"))
      .agg(max(col("cts")).as("src_ts"))
      .select(col("pid"), col("src_ts"),
        when(col("src_ts").isNotNull &&
          col("pts") <= col("src_ts") + expr("INTERVAL 1 HOUR"),
          1L).otherwise(0L).as("matched"))
      .collect()
      .map(r => r.getAs[Long]("pid") ->
        (Option(r.get(1)).map(_.toString),
          r.getAs[Long]("matched"))).toMap
    assert(linear == joined,
      s"linear ${linear.size} targets vs join ${joined.size}")
    assert(linear.nonEmpty && linear.values.exists(_._2 == 1L))
  }

  test("q214: attribution recomputed independently per purchase from " +
    "the raw event log matches the daily rollup") {
    val rows = Analytics.lastTouchAttribution(spark, sfDir).collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_attributed"),
          r.getAs[Long]("attributed_cents"))).toMap
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value")).collect()
      .map { r =>
        val ms = r.get(1) match {
          case t: java.sql.Timestamp => t.getTime
          case l: java.time.LocalDateTime =>
            l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
        (r.getAs[Long]("user_id"), ms, r.getAs[Long]("event_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"))
      }
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._2, e._3)).toVector).toMap
    val agg = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    for ((_, seq) <- byUser; i <- seq.indices
         if seq(i)._4 == "purchase") {
      val (ts, v) = (seq(i)._2, seq(i)._5)
      val lastClick = seq.take(i).filter(_._4 == "click")
        .map(_._2).maxOption
      val att = lastClick.exists(c => ts - c <= 3600L * 1000)
      val day = java.time.Instant.ofEpochMilli(ts)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
      val cents = math.floor(v * 100 + 0.5).toLong
      val (p, a, c0) = agg.getOrElse(day, (0L, 0L, 0L))
      agg(day) = (p + 1, a + (if (att) 1L else 0L),
        c0 + (if (att) cents else 0L))
    }
    assert(agg.toMap == rows)
  }

  test("q215: streaming attribution over a 3-file time split drains " +
    "to the batch q214 rollup row-for-row") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .orderBy(col("ts"), col("event_id"))
    val bounds = ev.select(col("ts")).collect().map(_.get(0))
    val n = bounds.length
    val (t1, t2) = (bounds(n / 3), bounds(2 * n / 3))
    val root = SparkSpec.tempDir("graft_sattrsplit_").toString
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
        Thread.sleep(1100) // ascending modtimes pin time-ordered batches
      }
      val streamed = graft.streaming.StreamingOps
        .streamingAttribution(spark, sfDir,
          sourceDir = Some(root), sourceGlob = "*.events.parquet",
          maxFilesPerTrigger = Some(1))
        .collect().map(_.toSeq).toSeq
      Caches.releaseAll(spark)
      val batch = Analytics.lastTouchAttribution(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q216: the decode chain links step to step and the first step " +
    "is the true argmax successor of the seed") {
    val rows = TextOps.greedyDecode(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("step"))
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("step") == 1L)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[String]("context") == a.getAs[String]("next_tok"))
        assert(b.getAs[Long]("step") == a.getAs[Long]("step") + 1)
      case _ => ()
    }
    // independent check of step 1: recompute train bigrams driver-side
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .filter(TextOps.splitCol("doc_id") === "train")
      .select(graft.functions.TextAnalytics.tokens(col("text")))
      .collect().map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length)
    val seed = uni.toSeq.minBy { case (t, c) => (-c, t) }._1
    val succ = toks.flatMap(t => t.zip(t.drop(1)))
      .filter(_._1 == seed).groupBy(_._2).view.mapValues(_.length)
    val best = succ.toSeq.minBy { case (t, c) => (-c, t) }
    assert(rows.head.getAs[String]("context") == seed)
    assert(rows.head.getAs[String]("next_tok") == best._1)
    assert(rows.head.getAs[Long]("c_bigram") == best._2.toLong)
  }

  test("q217: effective tokens sum to the deduplicated corpus's token " +
    "count and weights invert copy counts") {
    val rows = TextOps.dupAwareWeights(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("weight") ==
        1.0 / r.getAs[Long]("n_copies").toDouble)
    }
    val eff = rows.map(_.getAs[Double]("effective_tokens")).sum
    // one keeper per distinct content: its token count, counted once
    val dedupTokens = graft.sources.Tables.documents(spark, sfDir)
      .select(md5(col("text").cast("binary")).as("h"),
        graft.functions.TextAnalytics.tokenCount(col("text"))
          .cast("long").as("tc"))
      .groupBy(col("h")).agg(first(col("tc")).as("tc"))
      .agg(sum(col("tc"))).head.getLong(0)
    assert(math.abs(eff - dedupTokens.toDouble) < 1e-6)
  }

  test("q218: repair conserves docs, empties held-out leakage into " +
    "train, and agrees with q136's leak flags") {
    val rows = TextOps.splitLeakRepair(spark, sfDir).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    val leaked = TextOps.datasetSplit(spark, sfDir)
      .filter(col("leaked")).count()
    assert(rows("train").getAs[Long]("n_moved_in") == leaked)
    assert(rows("train").getAs[Long]("n_moved_out") == 0L)
    val beforeSum = rows.values.map(_.getAs[Long]("n_before")).sum
    val afterSum = rows.values.map(_.getAs[Long]("n_after")).sum
    assert(beforeSum == afterSum)
    for (s <- Seq("val", "test")) {
      val r = rows(s)
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") - r.getAs[Long]("n_moved_out"))
    }
  }

  test("q219: median and MAD recompute driver-side per source and the " +
    "outlier rule is the exact integer decision") {
    val rows = TextOps.lengthMadOutliers(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chars")))
    for ((src, g) <- docs.groupBy(_._1)) {
      val sorted = g.sortBy(x => (x._3, x._2)).map(_._3)
      val med = sorted((sorted.length + 1) / 2 - 1)
      val devsSorted = g.map(x => (math.abs(x._3 - med), x._2))
        .sortBy(identity).map(_._1)
      val mad = devsSorted((devsSorted.length + 1) / 2 - 1)
      val nOut = g.count(x => math.abs(x._3 - med) > 3 * mad)
      val r = rows(src)
      assert(r.getAs[Long]("median") == med)
      assert(r.getAs[Long]("mad") == mad)
      assert(r.getAs[Long]("n_outliers") == nOut.toLong)
      assert(r.getAs[Long]("n_docs") == g.length.toLong)
    }
  }

  test("q220: cell counts roll up to the split and lang marginals and " +
    "expected counts sum to the corpus per split") {
    val rows = TextOps.splitCompositionAudit(spark, sfDir).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
    val splits = TextOps.datasetSplit(spark, sfDir)
      .groupBy(col("split")).count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    for ((s, cells) <- bySplit) {
      assert(cells.map(_.getAs[Long]("n")).sum == splits(s))
      // Σ expected over langs for one split = split total (exact up
      // to the per-cell division)
      val expSum = cells.map(_.getAs[Double]("expected")).sum
      assert(math.abs(expSum - splits(s).toDouble) < 1e-6)
      cells.foreach { c =>
        val rd = c.getAs[Double]("rel_dev")
        assert(rd > -1.0) // observed > 0 by construction of the cell
      }
    }
  }

  test("q204 golden: a triangle survives the 2-core peel, a chain and " +
    "an isolated edge are peeled away, and a chain-attached clique " +
    "keeps exactly its clique members") {
    import spark.implicits._
    // components: triangle {1,2,3}; path 10-11-12-13; edge {20,21};
    // clique {30,31,32,33} with a pendant chain 33-34-35
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L), (31L, 32L), (31L, 33L),
      (32L, 33L), (33L, 34L), (34L, 35L)
    ).toDF("a", "b")
    val (df, rounds) = Analytics.kCorePeel(edges, k = 2)
    val rows = df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("degree"), r.getAs[Long]("in_core"),
        r.getAs[Long]("core_degree"))).toMap
    // every node with an edge is reported
    assert(rows.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L, 13L, 20L, 21L,
      30L, 31L, 32L, 33L, 34L, 35L))
    // triangle: all in-core with core degree 2
    for (n <- Seq(1L, 2L, 3L)) assert(rows(n) == ((2L, 1L, 2L)))
    // path + isolated edge: peeled (ends have degree 1, peeling
    // cascades through the middle)
    for (n <- Seq(10L, 11L, 12L, 13L, 20L, 21L, 34L, 35L))
      assert(rows(n)._2 == 0L && rows(n)._3 == 0L)
    // clique survives minus the pendant chain; 33's initial degree
    // counts the pendant edge but its core degree does not
    for (n <- Seq(30L, 31L, 32L)) assert(rows(n) == ((3L, 1L, 3L)))
    assert(rows(33L) == ((4L, 1L, 3L)))
    // the path needs multiple peel rounds (cascade), and everything
    // must converge comfortably inside the oracle's unroll depth
    assert(rounds >= 2 &&
      rounds <= graft.oracles.OracleDedup.KCoreRounds)
  }

  test("q205: vocab growth is monotone, the last checkpoint is the " +
    "whole corpus, and the Heaps exponent is a sane sublinear fit") {
    val rows = TextOps.heapsLaw(spark, sfDir).collect()
    assert(rows.length == 10)
    val byD = rows.sortBy(_.getAs[Long]("decile"))
    // monotone in both coordinates
    byD.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_tokens") <= b.getAs[Long]("n_tokens"))
      assert(a.getAs[Long]("vocab") <= b.getAs[Long]("vocab"))
    }
    // decile 10 = the full corpus: totals recomputed independently
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(graft.functions.TextAnalytics.tokens(col("text")).as("t"))
    val nTotal = docs.select(sum(size(col("t"))).cast("long")).head.getLong(0)
    val vTotal = docs.select(explode(col("t")).as("tok"))
      .select(countDistinct(col("tok"))).head.getLong(0)
    assert(byD.last.getAs[Long]("n_tokens") == nTotal)
    assert(byD.last.getAs[Long]("vocab") == vTotal)
    // sublinear growth: 0 < beta < 1 on any natural-ish corpus
    val beta = byD.head.getAs[Double]("beta")
    assert(beta > 0.0 && beta < 1.0)
    // the fit column is constant across rows
    assert(rows.map(_.getAs[Double]("beta")).distinct.length == 1)
  }

  test("q206: per source, full epochs replay the whole corpus, the " +
    "partial epoch covers the remainder with ≤ 1 doc of overshoot, " +
    "and realized tokens meet the q171 target") {
    val man = TextOps.epochMaterialization(spark, sfDir).collect()
    val plan = TextOps.tokenBudgetPlan(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"))).toMap
    val maxDoc = graft.sources.Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(max(graft.functions.TextAnalytics.tokenCount(col("text"))
        .cast("long")).as("m"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("m"))
      .toMap
    for ((src, rows) <- man.groupBy(_.getAs[String]("source"))) {
      val (nTok, target) = plan(src)
      val sorted = rows.sortBy(_.getAs[Long]("epoch"))
      // epochs are contiguous from 0, full passes first
      assert(sorted.map(_.getAs[Long]("epoch")).toSeq ==
        sorted.indices.map(_.toLong))
      sorted.init.foreach(r => assert(r.getAs[String]("kind") == "full"))
      sorted.filter(_.getAs[String]("kind") == "full")
        .foreach(r => assert(r.getAs[Long]("n_tokens") == nTok))
      // realized ≥ target, overshoot bounded by one doc
      val realized = sorted.map(_.getAs[Long]("n_tokens")).sum
      assert(realized >= target)
      assert(realized < target + maxDoc(src))
    }
  }

  test("q207: one row per vector whose label has a peer, and the " +
    "mined pair for a probe vector matches an independent brute-force " +
    "argmax on both sides of the label predicate") {
    val rows = Similarity.hardNegatives(spark, sfDir).collect()
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val classSizes = emb.groupBy(_._2).view.mapValues(_.length).toMap
    assert(rows.length == emb.count(e => classSizes(e._2) >= 2))
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      v.map(_ / n)
    }
    val probe = rows.head.getAs[Long]("vec_id")
    val (_, pl, pv) = emb.find(_._1 == probe).get
    val uq = unit(pv)
    val scored = emb.filter(_._1 != probe).map { case (id, l, v) =>
      val c = unit(v).zip(uq).foldLeft(0.0)((a, p) => a + p._1 * p._2)
      (id, l, math.floor(c * 1e9 + 0.5).toLong)
    }
    val bestPos = scored.filter(_._2 == pl).minBy(s => (-s._3, s._1))._1
    val bestNeg = scored.filter(_._2 != pl).minBy(s => (-s._3, s._1))._1
    val row = rows.find(_.getAs[Long]("vec_id") == probe).get
    assert(row.getAs[Long]("pos_id") == bestPos)
    assert(row.getAs[Long]("neg_id") == bestNeg)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("margin") -
        (r.getAs[Double]("neg_cos") - r.getAs[Double]("pos_cos"))) == 0.0)
    }
  }

  test("q208: EWMA recomputed independently from the daily table " +
    "matches, and the spike flag is the exact integer decision") {
    val rows = Analytics.ewmaAnomaly(spark, sfDir).collect()
    val daily = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("n")))
    val byType = daily.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toVector).toMap
    val weights = (1 to 8).map(j =>
      BigInt(3).pow(j - 1).toLong * BigInt(4).pow(8 - j).toLong)
    for (r <- rows) {
      val (t, d, n) = (r.getAs[String]("event_type"),
        r.getAs[String]("day"), r.getAs[Long]("n"))
      val series = byType(t)
      val i = series.indexWhere(_._1 == d)
      assert(series(i)._2 == n)
      val lags = (1 to 8).flatMap(j =>
        if (i - j >= 0) Some((series(i - j)._2, weights(j - 1))) else None)
      val num = lags.map(l => l._1 * l._2).sum
      val den = lags.map(_._2).sum
      assert(den > 0)
      assert(r.getAs[Double]("ewma") == num.toDouble / den.toDouble)
      assert(r.getAs[Long]("spike") == (if (n * den > 2 * num) 1L else 0L))
    }
    // day 1 of each type (no lags) is excluded
    assert(rows.length == daily.length - byType.size)
  }

  test("q209: interval brackets the point rate, tightens with sample " +
    "size, and counts recompute from the exact-dedup table") {
    val rows = Dedup.dupRateWilson(spark, sfDir).collect()
    // counts recomputed via q28's groups: Σ over groups with ≥2 copies
    val nDupTotal = Dedup.exactDedup(spark, sfDir).collect()
      .map(_.getAs[Long]("n_copies")).filter(_ >= 2).sum
    assert(rows.map(_.getAs[Long]("n_dup")).sum == nDupTotal)
    for (r <- rows) {
      val (p, lo, hi) = (r.getAs[Double]("dup_rate"),
        r.getAs[Double]("wilson_lo"), r.getAs[Double]("wilson_hi"))
      assert(lo >= 0.0 && hi <= 1.0 && lo <= p && p <= hi)
      // interval is informative: strictly narrower than [0, 1]
      assert(hi - lo < 1.0)
    }
  }

  test("q210: streaming EWMA over a 3-file time split drains to the " +
    "batch q208 table row-for-row") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .orderBy(col("ts"), col("event_id"))
    val bounds = ev.select(col("ts")).collect().map(_.get(0))
    val n = bounds.length
    val (t1, t2) = (bounds(n / 3), bounds(2 * n / 3))
    val root = SparkSpec.tempDir("graft_sewmasplit_").toString
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
      }
      // the daily-count merge is order-insensitive (sum), so batch
      // order need not be pinned — any drain equals the batch table
      val streamed = graft.streaming.StreamingOps
        .streamingEwmaAnomaly(spark, sfDir,
          sourceDir = Some(root), sourceGlob = "*.events.parquet",
          maxFilesPerTrigger = Some(1))
        .collect().map(_.toSeq).toSeq
      Caches.releaseAll(spark)
      val batch = Analytics.ewmaAnomaly(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q211: scorecard columns agree with their home queries and " +
    "token shares sum to one") {
    val sc = TextOps.sourceScorecard(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val wilson = Dedup.dupRateWilson(spark, sfDir).collect()
    for (w <- wilson) {
      val r = sc(w.getAs[String]("source"))
      assert(r.getAs[Long]("n_dup") == w.getAs[Long]("n_dup"))
      assert(r.getAs[Double]("wilson_lo") == w.getAs[Double]("wilson_lo"))
      assert(r.getAs[Double]("wilson_hi") == w.getAs[Double]("wilson_hi"))
    }
    val plan = TextOps.tokenBudgetPlan(spark, sfDir).collect()
    for (p <- plan) {
      val r = sc(p.getAs[String]("source"))
      assert(r.getAs[Double]("epochs") == p.getAs[Double]("epochs"))
      assert(r.getAs[Long]("n_tokens") == p.getAs[Long]("n_tokens"))
    }
    val shareSum = sc.values.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    sc.values.foreach { r =>
      val a = r.getAs[Double]("accept_rate")
      assert(a >= 0.0 && a <= 1.0)
    }
  }

  test("q212 golden: a star is perfectly disassortative (r = -1), a " +
    "clique is degree-regular (guarded r = 0), and histogram " +
    "fractions sum to one") {
    import spark.implicits._
    // 4-star: hub degree 4, leaves degree 1 → r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val sRows = Analytics.degreeProfile(star).collect()
    assert(sRows.forall(_.getAs[Double]("assort") == -1.0))
    assert(sRows.map(r => r.getAs[Long]("degree") ->
      r.getAs[Long]("n_nodes")).toMap == Map(1L -> 4L, 4L -> 1L))
    assert(math.abs(sRows.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-12)
    // triangle: all degrees equal → zero variance → guarded 0.0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(Analytics.degreeProfile(tri).collect()
      .forall(_.getAs[Double]("assort") == 0.0))
    // fixture: histogram mass equals the node count, fracs sum to 1
    val fix = Analytics.dupGraphDegrees(spark, sfDir).collect()
    assert(math.abs(fix.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-9)
    val a = fix.map(_.getAs[Double]("assort")).distinct
    assert(a.length == 1 && a.head >= -1.0 && a.head <= 1.0)
  }

  test("q213: a 3-file split drains to the exact top-k with err 0, " +
    "and a tiny-capacity run keeps the SpaceSaving bound " +
    "true ≤ cnt ≤ true + err") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val trueCounts = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val bounds = ev.orderBy(col("ts"), col("event_id"))
      .select(col("ts")).collect().map(_.get(0))
    val n = bounds.length
    val (t1, t2) = (bounds(n / 3), bounds(2 * n / 3))
    val root = SparkSpec.tempDir("graft_shhsplit_").toString
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
      }
      // ample capacity: exact drain, err = 0 on every row
      val exact = graft.streaming.StreamingOps
        .streamingHeavyHitters(spark, sfDir,
          sourceDir = Some(root), sourceGlob = "*.events.parquet",
          maxFilesPerTrigger = Some(1)).collect()
      Caches.releaseAll(spark)
      val expected = trueCounts.toSeq
        .sortBy { case (u, c) => (-c, u) }.take(20)
      assert(exact.map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"))).toSeq == expected)
      assert(exact.forall(_.getAs[Long]("err") == 0L))
      // starved capacity: eviction fires, the overestimate bound holds
      val sketched = graft.streaming.StreamingOps
        .streamingHeavyHitters(spark, sfDir, capacity = 8,
          sourceDir = Some(root), sourceGlob = "*.events.parquet",
          maxFilesPerTrigger = Some(1)).collect()
      Caches.releaseAll(spark)
      sketched.foreach { r =>
        val t = trueCounts(r.getAs[Long]("user_id"))
        val (c, e) = (r.getAs[Long]("n_events"), r.getAs[Long]("err"))
        assert(c >= t)
        assert(c - e <= t)
      }
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("q204: fixture peel converges within the oracle unroll and " +
    "core degrees are bounded by initial degrees") {
    val edges = Dedup.minhashOracledDf(
      graft.sources.Tables.documents(spark, sfDir))
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val (df, rounds) = Analytics.kCorePeel(edges, k = 2)
    assert(rounds <= graft.oracles.OracleDedup.KCoreRounds)
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("core_degree") <= r.getAs[Long]("degree"))
      assert((r.getAs[Long]("in_core") == 1L) ==
        (r.getAs[Long]("core_degree") >= 2L))
    }
  }
}
