package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.dotNative

import graft.operators._

class Wave3Spec extends SparkSpec {

  test("native dot product matches the HOF fold bit-for-bit") {
    val emb = Similarity.unitVectors(spark, sfDir).limit(50)
    val pairs = emb.select(col("vec_id").as("ia"), col("v").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("v").as("vb")))
      .filter(col("ia") < col("ib"))
    val diff = pairs
      .withColumn("hof", Similarity.dot(col("va"), col("vb")))
      .withColumn("native", dotNative(col("va"), col("vb")))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
  }

  test("native unit-vector kernel matches the HOF normalize chain bit-for-bit") {
    import org.apache.spark.sql.graft.VectorExpressions.unitNative
    // the HOF spec: per-element double cast, norm = sqrt of the
    // 0.0-seeded ascending squared-sum fold, per-element divide
    val v0 = transform(col("embedding"), x => x.cast("double"))
    val diff = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), v0.as("v0"))
      .withColumn("nrm", Similarity.norm(col("v0")))
      .withColumn("hof", transform(col("v0"), x => x / col("nrm")))
      .withColumn("native", unitNative(col("embedding").cast("array<double>")))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // edge contract: empty array and null element poison to null;
    // an all-zero vector propagates NaN like the HOF divide
    import spark.implicits._
    val edge = Seq(
      (1L, Seq(3.0, 4.0)),
      (2L, Seq.empty[Double]),
      (3L, Seq(0.0, 0.0)))
      .toDF("id", "v")
      .select(col("id"), unitNative(col("v")).as("u"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Double](1))).toMap
    assert(edge(1L).get == Seq(0.6, 0.8))
    assert(edge(2L).isEmpty)
    assert(edge(3L).get.forall(_.isNaN))
  }

  test("nearest-centroid kernel matches the max-struct argmax spelling exactly") {
    import org.apache.spark.sql.graft.VectorExpressions.nearestCentroidNative
    val u = Similarity.unitVectors(spark, sfDir).select(col("vec_id"), col("v"))
    val model: Array[(Long, Array[Double])] = u.filter(col("vec_id") < 7)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray)
    // the declarative spec the kernel replaces: crossJoin + dot +
    // max(struct(sim, -cid)) — highest sim, ties to the LOWEST cid
    val cents = model.map { case (cid, cv) =>
      struct(dotNative(col("v"), typedLit(cv.toSeq)).as("sim"),
        lit(-cid).as("nc"))
    }
    val diff = u
      .withColumn("spec", array_max(array(cents.toSeq: _*)).getField("nc") * -1)
      .withColumn("native", nearestCentroidNative(col("v"), model))
      .filter(col("spec") =!= col("native"))
      .count()
    assert(diff == 0)
    // edge contract: exact ties go to the lowest cid regardless of model
    // order; a ragged vector and a null-element vector (every/any
    // projection null) take the lowest cid like the all-null struct max;
    // a NULL input stays null (the kernel's one documented deviation)
    val tiedModel = Array(5L -> Array(1.0, 0.0), 2L -> Array(1.0, 0.0),
      7L -> Array(0.0, 1.0))
    val edge = spark.range(1).select(
      nearestCentroidNative(array(lit(1.0), lit(0.0)), tiedModel).as("tie"),
      nearestCentroidNative(array(lit(1.0), lit(0.0), lit(9.9)), tiedModel)
        .as("ragged"),
      nearestCentroidNative(array(lit(1.0), lit(null).cast("double")),
        tiedModel).as("poisoned"),
      nearestCentroidNative(lit(null).cast("array<double>"), tiedModel)
        .as("nullv"))
      .collect().head
    assert(edge.getLong(0) == 2L, "tie must break to the lowest cid")
    assert(edge.getLong(1) == 2L, "ragged vector must take the lowest cid")
    assert(edge.getLong(2) == 2L, "null element must poison to the lowest cid")
    assert(edge.isNullAt(3), "null vector must stay null")
    Caches.releaseAll(spark)
  }

  test("parallelized: spreads a too-few-files scan, no-op when files suffice") {
    val p = spark.sparkContext.defaultParallelism
    // the 1-file fixture can't supply cores-wide parallelism → spread
    val one = sources.Tables.embeddings(spark, sfDir)
    assert(sources.Tables.parallelized(spark, one).rdd.getNumPartitions == p)
    // a corpus with >= cores files already scans parallel → SAME plan,
    // no extra exchange (reference equality: the input is returned)
    val dir = java.nio.file.Files.createTempDirectory("graft_par").toString
    one.limit(64).repartition(p + 1).write.mode("overwrite").parquet(dir)
    val multi = spark.read.parquet(dir)
    assert(multi.inputFiles.length >= p)
    assert(sources.Tables.parallelized(spark, multi) eq multi)
    Caches.releaseAll(spark)
  }

  test("md5-minhash kernel matches the interpreted HOF spelling bit-for-bit") {
    import org.apache.spark.sql.graft.VectorExpressions.md5MinhashNative
    import graft.functions.TextAnalytics
    val perms = 8
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalytics.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val shb = transform(col("sh"), g => g.cast("binary"))
    val hof = array((0 until perms).map { s =>
      array_min(transform(shb, gb =>
        md5(concat(gb, lit(s"#$s").cast("binary")))))
    }: _*)
    val diff = docs
      .withColumn("hof", hof)
      .withColumn("native", md5MinhashNative(col("sh"), perms))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // edge contract: empty gram array → null; null grams are skipped;
    // all-null grams → null signature elements
    val edge = spark.range(1).select(
      md5MinhashNative(array().cast("array<string>"), 2).as("empty"),
      md5MinhashNative(array(lit(null).cast("string"), lit("ab")), 2)
        .as("skipnull"),
      md5MinhashNative(array(lit(null).cast("string")), 2).as("allnull"))
      .collect().head
    assert(edge.isNullAt(0), "empty gram array must yield null")
    val skip = edge.getSeq[String](1)
    assert(skip.length == 2 && skip.forall(_ != null))
    assert(edge.getSeq[String](2).forall(_ == null),
      "all-null grams must yield null elements")
    Caches.releaseAll(spark)
  }

  test("native minhash signature matches the HOF form bit-for-bit") {
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextAnalytics.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs
      .withColumn("hof", Dedup.minhashSignatureHof(col("sh")))
      .withColumn("native", Dedup.minhashSignature(col("sh")))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
  }

  test("native shingle-hash kernel matches the HOF pipeline's values") {
    import org.apache.spark.sql.graft.VectorExpressions
    // same hash values, same first-occurrence order (collision-free on
    // this corpus, so hash-dedup == string-dedup exactly)
    val diff = sources.Tables.documents(spark, sfDir)
      .withColumn("hof",
        transform(graft.functions.TextAnalytics.shingles(col("text"), 3),
          s => xxhash64(s)))
      .withColumn("native", VectorExpressions.shingleHashes(col("text"), 3))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // whitespace torture: tabs/newlines/runs/leading/trailing + short docs
    val cases = Seq("", " ", "a", "a b", "a b c", "  a\t\tb \n c  ",
      "x y z w", "a  bc\fd\re f", "ä ö ü ß é 漢 字")
    import spark.implicits._
    val torture = cases.toDF("text")
      .withColumn("hof",
        transform(graft.functions.TextAnalytics.shingles(col("text"), 3),
          s => xxhash64(s)))
      .withColumn("native", VectorExpressions.shingleHashes(col("text"), 3))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(torture == 0)
  }

  test("shingle/winnow/simhash kernels match HOF specs on seeded random text") {
    import org.apache.spark.sql.graft.VectorExpressions
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val alphabet = "ab0д日 \t\n\f\r" // incl. every \s byte + multibyte
    val cases = Seq.fill(200)(
      Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = cases.toDF("text")
      .withColumn("sh_hof",
        transform(graft.functions.TextAnalytics.shingles(col("text"), 3),
          s => xxhash64(s)))
      .withColumn("sh_native", VectorExpressions.shingleHashes(col("text"), 3))
      .withColumn("wn_hof", operators.Dedup.winnowFingerprintsHof(col("text"), 3, 4))
      .withColumn("wn_native", operators.Dedup.winnowFingerprints(col("text"), 3, 4))
    assert(df.filter(col("sh_hof") =!= col("sh_native")).count() == 0)
    assert(df.filter(col("wn_hof") =!= col("wn_native")).count() == 0)
    // sorted mode == sort_array of the unsorted mode; the sorted
    // intersect count == size(array_intersect) on self-pairs of
    // adjacent rows (covers empty/disjoint/overlapping)
    val sorted = cases.toDF("text")
      .withColumn("s_native", VectorExpressions.sortedShingleHashes(col("text"), 3))
      .withColumn("s_ref", sort_array(VectorExpressions.shingleHashes(col("text"), 3)))
    assert(sorted.filter(col("s_native") =!= col("s_ref")).count() == 0)
    val pairs = cases.zip(cases.drop(1) :+ cases.head).toDF("ta", "tb")
      .withColumn("a", VectorExpressions.sortedShingleHashes(col("ta"), 3))
      .withColumn("b", VectorExpressions.sortedShingleHashes(col("tb"), 3))
      .withColumn("cnt", VectorExpressions.sortedIntersectCount(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(pairs.filter(col("cnt") =!= col("ref")).count() == 0)
  }

  test("hash-input minhash signature equals the string-input kernel") {
    import org.apache.spark.sql.graft.VectorExpressions
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        graft.functions.TextAnalytics.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs
      .withColumn("fromStrings", Dedup.minhashSignature(col("sh")))
      .withColumn("fromHashes",
        VectorExpressions.minhashFromHashes(
          VectorExpressions.shingleHashes(col("text"), 3), 16))
      .filter(col("fromStrings") =!= col("fromHashes"))
      .count()
    assert(diff == 0)
  }

  // registration goes on a child session: it also installs a planner
  // strategy, which must not change how later suites plan on the
  // shared session
  private lazy val registered = {
    val s = spark.newSession()
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    s
  }

  test("optimizer rule rewrites the HOF dot idiom to the native kernel") {
    val df = registered.range(1, 100)
      .select(col("id"),
        transform(sequence(lit(1), lit(16)), i => i.cast("double") * col("id"))
          .as("a"),
        transform(sequence(lit(1), lit(16)), i => i.cast("double") + col("id"))
          .as("b"))
      .select(col("id"), Similarity.dot(col("a"), col("b")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("dotproduct"),
      s"HOF idiom not rewritten:\n$optimized")
    // value check against a driver-side computation
    df.collect().foreach { r =>
      val id = r.getLong(0)
      val expected = (1 to 16).map(i => (i.toDouble * id) * (i.toDouble + id)).sum
      assert(r.getDouble(1) == expected)
    }
  }

  test("native dot matches HOF null semantics (ragged and null elements)") {
    val rows = registered.sql(
      """SELECT
        |  aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x) AS hof,
        |  dot_product(a, b) AS nat
        |FROM VALUES
        |  (array(1.0d, 2.0d), array(3.0d)),
        |  (array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d)),
        |  (array(1.0d, 2.0d), array(3.0d, 4.0d)) AS t(a, b)""".stripMargin)
      .collect()
    rows.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1)) }
    assert(rows.count(_.isNullAt(1)) == 2)
    assert(rows.find(!_.isNullAt(1)).get.getDouble(1) == 11.0)
  }

  test("fake decoder is deterministic with full byte coverage") {
    val payload = "hello multimodal world, fake frames".getBytes("UTF-8")
    val frames = Multimodal.fakeDecodeBytes(payload, 8)
    assert(frames == Multimodal.fakeDecodeBytes(payload, 8))
    assert(frames.map(_._1) == frames.indices.toSeq)
    assert(frames.length == (payload.length + 7) / 8)
    frames.foreach { case (_, mean) => assert(mean > 0 && mean < 256) }
  }

  test("frame features: one row per frame, partition-local decode") {
    val docs = sources.Tables.documents(spark, sfDir)
    val expected = docs
      .select((ceil(length(col("text")) / 32.0)).cast("long").as("nf"))
      .agg(sum(col("nf"))).head().getLong(0)
    assert(Multimodal.frameFeatures(spark, sfDir).count() == expected)
  }

  test("frame-sample and resize: hand-computed goldens") {
    assert(Multimodal.sampleFrames(
      Seq(0 -> 1.0, 1 -> 2.0, 2 -> 3.0, 3 -> 4.0, 4 -> 5.0), 2) ==
      Seq(0 -> 1.0, 2 -> 3.0, 4 -> 5.0))
    // 10 features onto a 4-bucket grid: edges i*4/10 → [0,1,2],[3,4],
    // [5,6,7],[8,9] with means 1.0, 3.5, 6.0, 8.5
    assert(Multimodal.resizeFeatures((0 until 10).map(_.toDouble), 4) ==
      Seq(0 -> 1.0, 1 -> 3.5, 2 -> 6.0, 3 -> 8.5))
    // shorter than the grid: leading buckets only, one value each
    assert(Multimodal.resizeFeatures(Seq(7.0, 9.0), 4) ==
      Seq(0 -> 7.0, 2 -> 9.0))
    assert(Multimodal.resizeFeatures(Seq.empty, 4) == Seq.empty)
  }

  test("media pipeline == composing decode, sample, resize per doc") {
    val out = Multimodal.mediaPipeline(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("bucket"))
          .map(r => (r.getAs[Int]("bucket"), r.getAs[Double]("feat"))).toSeq
      }
    assert(out.nonEmpty)
    out.values.foreach { bs =>
      assert(bs.size <= 8 && bs.forall { case (b, _) => b >= 0 && b < 8 })
    }
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val expected = Multimodal.resizeFeatures(
        Multimodal.sampleFrames(
          Multimodal.fakeDecodeBytes(text.getBytes("UTF-8"), 32), 4)
          .map(_._2), 8)
      assert(out.getOrElse(id, Seq.empty) == expected,
        s"doc $id pipeline mismatch")
    }
  }

  test("oracled media twin: whole-frame truncation, dyadic-exact means") {
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the oracle's precondition: fixture text is ASCII, so DuckDB's
    // ascii(substring(...)) is the UTF-8 payload byte
    assert(docs.values.forall(_.forall(_ < 128)), "fixture text not ASCII")
    val out = Multimodal.mediaPipelineOracled(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("bucket"))
          .map(r => (r.getAs[Int]("bucket"), r.getAs[Double]("feat"))).toSeq
      }
    assert(out.nonEmpty)
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val whole = bytes.take(bytes.length - bytes.length % 32)
      val frames = Multimodal.fakeDecodeBytes(whole, 32)
      // dyadic-exactness: every whole-frame mean is s/32 with s integral,
      // which is what makes the cross-engine hash check sound
      frames.foreach { case (_, m) => assert((m * 32) % 1.0 == 0.0) }
      val expected = Multimodal.resizeFeatures(
        Multimodal.sampleFrames(frames, 4).map(_._2), 8)
      assert(out.getOrElse(id, Seq.empty) == expected,
        s"doc $id oracled pipeline mismatch")
    }
  }

  test("conflict-ignore upsert is idempotent") {
    val once = Upsert.conflictIgnoreUpsert(spark, sfDir)
    // re-applying the same source against the merged keys inserts nothing
    val mergedKeys = once.select(col("key")).distinct()
    val source = sources.Tables.events(spark, sfDir)
      .select(col("user_id").as("key")).distinct()
    val secondInserts = source.join(mergedKeys, Seq("key"), "left_anti").count()
    assert(secondInserts == 0)
  }

  test("stateful streaming totals equal the batch aggregation") {
    val streamed = graft.streaming.StreamingOps.statefulUserTotals(spark, sfDir)
    val batch = sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    val mismatches = streamed.as("s")
      .join(batch.as("b"), Seq("user_id"), "full_outer")
      .filter(col("s.n_events") =!= col("b.n_events") ||
        col("s.total_cents") =!= col("b.total_cents") ||
        col("s.n_events").isNull || col("b.n_events").isNull)
      .count()
    assert(mismatches == 0)
  }

  test("IVF with nprobe = nlist equals brute force (exhaustive probe)") {
    val bf = Similarity.bruteForceTopK(spark, sfDir)
      .select(col("q_id"), col("rank"), col("neighbor"))
    val ivf = Similarity.ivfTopK(spark, sfDir, nlist = 8, nprobe = 8)
      .select(col("q_id"), col("rank"), col("neighbor"))
    assert(bf.exceptAll(ivf).count() == 0 && ivf.exceptAll(bf).count() == 0)
  }

  test("IVF with partial probe returns valid, well-ranked neighbors") {
    val rows = Similarity.ivfTopK(spark, sfDir, nlist = 8, nprobe = 3).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cos == cos.sorted.reverse)
    }
  }

  test("approx distinct is within rsd bounds of exact") {
    val exact = Relational.distinctCounts(spark, sfDir)
      .select(col("event_type"), col("n_users"))
    val approx = Relational.approxDistinctRaw(spark, sfDir)
      .select(col("event_type"), col("approx_users"))
    exact.join(approx, "event_type").collect().foreach { r =>
      val e = r.getAs[Long]("n_users").toDouble
      val a = r.getAs[Long]("approx_users").toDouble
      assert(math.abs(a - e) / e < 0.15, s"approx $a vs exact $e")
    }
  }

  test("ivf-oracled with nprobe = nlist equals exhaustive dot ranking") {
    import org.apache.spark.sql.expressions.Window
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val brute = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", operators.Similarity.dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor"), col("score"))
      .orderBy(col("q_id"), col("rank"))
    val ivf = operators.Similarity.ivfOracled(spark, sfDir, nprobe = 4)
    assert(ivf.collect().toSeq == brute.collect().toSeq)
    Caches.releaseAll(spark)
  }

  test("lsh-oracled equals the independent HOF bucket spelling") {
    val planes = Array.tabulate(6, 64)((p, d) =>
      operators.Similarity.mdNibbleVal(s"pl|$p|$d"))
    val u = operators.Similarity.unitVectors(spark, sfDir)
    val bucket = (0 until 6).map { p =>
      when(operators.Similarity.dot(col("v"),
        typedLit(planes(p).toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val b = u.select(col("vec_id"), col("v"), bucket.as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("v_a"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("v_b"))
    val hof = l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", operators.Similarity.dot(col("v_a"), col("v_b")))
      .filter(col("cos") >= 0.4)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
    val out = operators.Similarity.lshOracled(spark, sfDir)
    assert(out.collect().toSeq == hof.collect().toSeq)
    Caches.releaseAll(spark)
  }

  test("md5-winnow kernel matches the interpreted HOF spelling bit-for-bit") {
    import org.apache.spark.sql.graft.VectorExpressions.md5WinnowFp
    import graft.functions.TextAnalytics
    val docs = sources.Tables.documents(spark, sfDir)
    val diff = docs
      .withColumn("hof", operators.Dedup.md5WinnowFpHof(col("text")))
      .withColumn("native",
        md5WinnowFp(TextAnalytics.positionalShingles(col("text"), 3), 8))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // edge contract: < 3 tokens → no grams → empty array; < w grams →
    // the single global min; window count n-w+1 with distinct minima
    val edge = spark.createDataFrame(Seq(
      (1L, "a b"),                         // no grams
      (2L, "a b c d"),                     // 2 grams < w → 1 global min
      (3L, (1 to 20).map(i => s"t$i").mkString(" ")) // 18 grams, w=8
    )).toDF("doc_id", "text")
      .withColumn("native",
        md5WinnowFp(TextAnalytics.positionalShingles(col("text"), 3), 8))
      .withColumn("hof", operators.Dedup.md5WinnowFpHof(col("text")))
      .collect().sortBy(_.getLong(0))
    assert(edge(0).getSeq[String](2).isEmpty)
    assert(edge(1).getSeq[String](2).length == 1)
    edge.foreach { r =>
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"doc ${r.getLong(0)} kernel != HOF")
    }
    Caches.releaseAll(spark)
  }

  test("winnow-oracled pairs recall a shared segment, not unrelated docs") {
    import spark.implicits._
    val shared = (1 to 30).map(i => s"seg$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"$shared zeta eta theta iota kappa"),
      (3L, "unrelated words only nothing shared here at all " +
        (1 to 25).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = operators.Dedup.winnowOracledDf(corpus).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Long]("n_shared") >= 2)
    Caches.releaseAll(spark)
  }

  test("bigram LM: hand-computed add-one probabilities on a crafted corpus") {
    import spark.implicits._
    // filtered corpus (len>=2): docs 0,1. c2(a,b)=3, c2(b,a)=1,
    // c2(b,c)=1; prefix c1(a)=3, c1(b)=2; vocab V={a,b,c}=3.
    // doc 2 (one token) contributes nothing and is dropped.
    val docs = Seq(
      (0L, "a b a b"),   // bigrams (a,b)x2 (b,a)x1
      (1L, "a b c"),     // (a,b) (b,c)
      (2L, "z"))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("bigram").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.bigramLmScore(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob")))
        .toMap
      val lpAB = math.log(4.0 / 6.0)  // (3+1)/(3+3)
      val lpBA = math.log(2.0 / 5.0)  // (1+1)/(2+3)
      val lpBC = math.log(2.0 / 5.0)  // (1+1)/(2+3)
      assert(got.keySet == Set(0L, 1L))
      assert(got(0L)._1 == 3L)
      assert(math.abs(got(0L)._2 - (2 * lpAB + lpBA) / 3.0) < 1e-12)
      assert(got(1L)._1 == 2L)
      assert(math.abs(got(1L)._2 - (lpAB + lpBC) / 2.0) < 1e-12)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("BPE merges: hand-computed rounds incl. overlapping-run greedy") {
    import spark.implicits._
    // word freqs: aaaa:2 ab:1 abab:1 cd:1.
    // r1 pairs: (a,a)=3·2=6 (overlaps count) > (a,b)=3 → merge a+a;
    //   greedy leftmost on aaaa = [aa, aa] (NOT [aa, a, a]).
    // r2: (a,b)=3 > (aa,aa)=2 → merge a+b; abab = [ab, ab].
    // r3: (aa,aa)=2 → merge aa+aa; aaaa = [aaaa].
    val docs = Seq((0L, "aaaa aaaa ab"), (1L, "abab cd"))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.bpeMerges(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4)))
      val expect = Seq(
        ("merge", 1L, "a", "a", 6L),
        ("merge", 2L, "a", "b", 3L),
        ("merge", 3L, "aa", "aa", 2L),
        ("word", 0L, "aaaa", "aaaa", 2L),
        ("word", 0L, "ab", "ab", 1L),
        ("word", 0L, "abab", "ab ab", 1L),
        ("word", 0L, "cd", "c d", 1L))
      assert(got.toSeq == expect)
      // apply the learned merges: aaaa→1 token, ab→1, abab→2, cd→2
      val tk = operators.TextOps.bpeTokenize(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      assert(tk.toSeq == Seq((0L, 3L, 3L, 1.0), (1L, 2L, 4L, 2.0)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("random projection: golden signs + exact hand-computed output") {
    import spark.implicits._
    // independent md5 derivation (hex-string decode, not mdNibbleVal):
    def sign(i: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl|$i|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) >= 8) 1.0 else -1.0
    }
    assert((0 until 4).map(sign(0, _)) == Seq(1.0, 1.0, -1.0, -1.0))
    assert((0 until 4).map(sign(1, _)) == Seq(-1.0, 1.0, -1.0, 1.0))
    val emb = Seq((7L, Seq(1.0f, -2.0f, 0.5f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("rp").toString
    try {
      emb.write.parquet(s"$dir/embeddings.parquet")
      val got = operators.Similarity
        .randomProjection(spark, dir, target = 2, dim = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // ±1 dot over 1e6-quantized values is exact: [1,1,-1,-1]·v and
      // [-1,1,-1,1]·v for v = (1, -2, 0.5, 0.25)
      assert(got.toSeq == Seq((7L, 0L, -1.75), (7L, 1L, -3.25)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("temperature mix: sqrt quotas + independent md5 rank selection") {
    import spark.implicits._
    // langs en:9 de:4 zh:1 → sqrt shares 3:2:1 (all FP-exact), so
    // target=6 gives quotas en=3 de=2 zh=1 — the low-resource lang is
    // upweighted from 1/14 of the corpus to 1/6 of the sample
    val docs = (0 until 9).map(i => (i.toLong, s"doc $i", "en")) ++
      (9 until 13).map(i => (i.toLong, s"doc $i", "de")) ++
      Seq((13L, "doc 13", "zh"))
    val df = docs.map { case (id, t, l) => (id, t, l, "crafted",
      t.length.toLong) }.toDF("doc_id", "text", "lang", "source",
      "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("tmix").toString
    try {
      df.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.temperatureMix(spark, dir, target = 6)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val byLang = got.groupBy(_._2).view.mapValues(_.size).toMap
      assert(byLang == Map("en" -> 3, "de" -> 2, "zh" -> 1))
      // independent selection check: lowest md5("mix|id") ranks win
      def hk(id: Long): String = java.security.MessageDigest
        .getInstance("MD5").digest(s"mix|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expectEn = (0L until 9L).sortBy(i => (hk(i), i)).take(3).toSet
      assert(got.filter(_._2 == "en").map(_._1).toSet == expectEn)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("dataset split: independent byte-rule assignment + leakage flag") {
    import spark.implicits._
    def byte1(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 2), 16)
    }
    def expSplit(id: Long): String = {
      val b = byte1(id)
      if (b < 204) "train" else if (b < 230) "val" else "test"
    }
    val ids = (0L until 40L)
    val train = ids.find(expSplit(_) == "train").get
    val eval = ids.find(i => expSplit(i) != "train").get
    // eval doc shares its exact text with a train doc → must be flagged
    val docs = ids.map(i =>
        (i, if (i == eval) s"doc $train" else s"doc $i"))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("split").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.datasetSplit(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      assert(got.map(x => x._1 -> x._2).toMap ==
        ids.map(i => i -> expSplit(i)).toMap)
      assert(got.filter(_._3).map(_._1).toSeq == Seq(eval))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("phrase search: adjacency only, positions hand-checked") {
    import spark.implicits._
    val docs = Seq(
      (0L, "table scan x table scan"), // matches at pos 0 and 3
      (1L, "table x scan"),            // gap — no match
      (2L, "scan table"),              // reversed — no match
      (3L, "table table scan"))        // match at pos 1 only
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("phrase").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.phraseSearch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((0L, 2L, 0L), (3L, 1L, 1L)))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cooccurrence PMI: hand-computed window pairs and scores") {
    import spark.implicits._
    // "a b a": ±2 pairs = (a,b) (a,b) (a,a); uni a=2 b=1; N=3; P=3
    val docs = Seq((0L, "a b a"))
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("pmi").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.cooccurrencePmi(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      assert(got.map(x => (x._1, x._2, x._3)).toSeq ==
        Seq(("a", "a", 1L), ("a", "b", 2L)))
      assert(math.abs(got(0)._4 - math.log(9.0 / 12.0)) < 1e-12)
      assert(math.abs(got(1)._4 - math.log(3.0)) < 1e-12)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("corpus card: hand-computed entropy and dup ratio") {
    import spark.implicits._
    // srcA: 4 docs, langs en,en,de,de (entropy ln 2), one exact dup
    // (dup_ratio 1/4), 2+2+2+2 = 8 tokens; srcB: 1 doc, entropy 0
    val docs = Seq(
      (0L, "x y", "en", "srcA"), (1L, "x y", "en", "srcA"),
      (2L, "a b", "de", "srcA"), (3L, "c d", "de", "srcA"),
      (4L, "e f g", "fr", "srcB"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("card").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.corpusCard(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6)))
      assert(got.length == 2)
      val (srcA, srcB) = (got(0), got(1))
      assert(srcA == ("srcA", 4L, 8L, 2L, srcA._5, 0.25) &&
        math.abs(srcA._5 - math.log(2.0)) < 1e-12)
      assert(srcB == ("srcB", 1L, 3L, 1L, srcB._5, 0.0) &&
        math.abs(srcB._5) < 1e-12)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("held-out perplexity: train-only model, add-one unseen limits") {
    import spark.implicits._
    def byte1(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 2), 16)
    }
    def sp(id: Long): String = {
      val b = byte1(id)
      if (b < 204) "train" else if (b < 230) "val" else "test"
    }
    val ids = (0L until 60L)
    val trainIds = ids.filter(sp(_) == "train").take(2)
    val held = ids.filter(sp(_) != "train").take(2)
    // model from 2 train docs "a b a b": c2(a,b)=4 c2(b,a)=2,
    // c1(a)=4 c1(b)=2, V=2. held(0)="a b" → ln(5/6);
    // held(1)="z q" (nothing seen) → ln(1/2). All other docs are
    // 1-token and drop out of both model and scoring.
    val docs = ids.map { i =>
      val t = if (trainIds.contains(i)) "a b a b"
        else if (i == held(0)) "a b"
        else if (i == held(1)) "z q" else "x"
      (i, t, "en", "crafted", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("ppl").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.heldoutPerplexity(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1)
      assert(got.map(_._1).toSeq == held.sorted)
      val byId = got.map(x => x._1 -> x).toMap
      assert(byId(held(0))._3 == 1L &&
        math.abs(byId(held(0))._4 - math.log(5.0 / 6.0)) < 1e-12)
      assert(byId(held(1))._3 == 1L &&
        math.abs(byId(held(1))._4 - math.log(0.5)) < 1e-12)
      got.foreach(x => assert(x._2 != "train"))
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("curation funnel: hand-computed stage survival") {
    import spark.implicits._
    val long40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, long40),          // keeper, quality (40 tokens)
      (1L, long40),          // exact dup of 0 — dropped at s1
      (2L, "tiny doc"),      // keeper, fails quality (2 tokens)
      (3L, long40 + " extra")) // keeper, quality (41 tokens)
      .map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = operators.TextOps.curationFunnel(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq(
        ("s0_raw", 4L, 123L),          // 40+40+2+41
        ("s1_exact_dedup", 3L, 83L),   // 40+2+41
        ("s2_quality", 2L, 81L)))      // 40+41
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("knn LOO eval: nearest-other-vector labels, per-label accuracy") {
    import spark.implicits._
    // two tight clusters on distinct axes: label 0 at e1-ish, label 1
    // at e2-ish; each vector's nearest OTHER vector is its cluster
    // twin except vec 4 (label 1 but sitting in cluster 0 → wrong)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.0f, 0.0f, 1.0f), 1),
      (3L, Seq(0.0f, 0.1f, 0.9f), 1),
      (4L, Seq(1.0f, 0.05f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("knn").toString
    try {
      emb.write.parquet(s"$dir/embeddings.parquet")
      val got = operators.Similarity.knnLooEval(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      // independent reimplementation: normalize, rank neighbors by the
      // same 1e-9 fixed-point cosine with ties to lowest id
      val vecs = Seq(
        0L -> (Seq(1.0, 0.0, 0.0), 0), 1L -> (Seq(0.9, 0.1, 0.0), 0),
        2L -> (Seq(0.0, 0.0, 1.0), 1), 3L -> (Seq(0.0, 0.1, 0.9), 1),
        4L -> (Seq(1.0, 0.05, 0.0), 1))
        .map { case (id, (v, l)) =>
          val vf = v.map(_.toFloat.toDouble) // float32 storage first
          val n = math.sqrt(vf.map(x => x * x).sum)
          (id, vf.map(_ / n), l)
        }
      val nn = vecs.map { case (id, v, _) =>
        val (bid, _) = vecs.filter(_._1 != id)
          .map { case (oid, ov, _) =>
            (oid, math.floor(v.zip(ov).map { case (a, b) => a * b }.sum
              * 1e9 + 0.5).toLong) }
          .minBy { case (oid, fp) => (-fp, oid) }
        id -> vecs.find(_._1 == bid).get._3
      }.toMap
      val expect = vecs.groupBy(_._3).map { case (l, vs) =>
        val correct = vs.count { case (id, _, lbl) => nn(id) == lbl }
        (l, vs.size.toLong, correct.toLong,
          correct.toDouble / vs.size) }.toSeq.sortBy(_._1)
      assert(got.toSeq == expect)
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("rate anomaly: exact match with an independent trailing window") {
    // recompute from raw rows entirely driver-side
    val rows = operators.Analytics.rateAnomaly(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val counts = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("event_type", "cast(cast(ts as date) as string) as day")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byType = counts.toSeq.map { case ((t, d), n) => (t, d, n) }
      .groupBy(_._1)
    val expect = byType.toSeq.flatMap { case (t, ds) =>
      val sorted = ds.sortBy(_._2)
      sorted.indices.flatMap { i =>
        val win = sorted.slice(math.max(0, i - 7), i).map(_._3)
        if (win.size != 7) None
        else {
          val c = win.size.toDouble
          val mean = win.sum.toDouble / c
          val vr = win.map(x => x * x).sum.toDouble / c - mean * mean
          val z = if (vr > 0)
            (sorted(i)._3.toDouble - mean) / math.sqrt(vr) else 0.0
          Some((t, sorted(i)._2, sorted(i)._3, z))
        }
      }
    }.sortBy(x => (x._1, x._2))
    assert(rows.toSeq == expect)
    Caches.releaseAll(spark)
  }

  test("session funnel: exact match with an independent sessionizer") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(ts as string) as ts", "event_id",
        "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    // fixture invariant the operator's scaladoc relies on: event ids
    // are strictly time-ordered
    val byId = ev.sortBy(_._3).map(_._2)
    assert(byId.zip(byId.tail).forall { case (a, b) => a < b })
    // driver-side sessionizer: 30-min gap on (ts, event_id) order
    def t(s: String): Long = { // micros since epoch — full precision
      val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      val i = ldt.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val funnel = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      var sid = 0L
      var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || t(e._2) > prev + 30L * 60 * 1000000)
          sid += 1
        prev = t(e._2)
        (u, sid, e._3, e._4)
      }
    }
    val sessions = funnel.map(x => (x._1, x._2)).distinct
    def anchor(tpe: String, after: Map[(Long, Long), Long]) =
      funnel.filter(e => e._4 == tpe &&
          after.get((e._1, e._2)).exists(e._3 > _))
        .groupBy(e => (e._1, e._2)).view
        .mapValues(_.map(_._3).min).toMap
    val tv = funnel.filter(_._4 == "view").groupBy(e => (e._1, e._2))
      .view.mapValues(_.map(_._3).min).toMap
    val tc = anchor("click", tv)
    val tp = anchor("purchase", tc)
    val got = operators.Sessionize.sessionFunnel(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      ("s0_sessions", sessions.size.toLong),
      ("s1_view", tv.size.toLong),
      ("s2_view_click", tc.size.toLong),
      ("s3_view_click_purchase", tp.size.toLong)))
    Caches.releaseAll(spark)
  }

  test("pagerank: exact match with an independent driver-side walk") {
    // plain-Scala reimplementation of the integer fixed-point contract
    // (scale div n, rank div deg, 15/85 damping in integer div) over
    // the same purchase graph — must agree bit-for-bit
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = pairs.toSeq.flatMap { case (c, s) =>
      Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val scale = 1000000000000L
    val n = nodes.size.toLong
    val base = (15L * (scale / n)) / 100L
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 2) {
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum }
      r = nodes.map(v => v -> (base + (85L * sums.getOrElse(v, 0L)) / 100L))
        .toMap
    }
    val got = operators.Analytics.pageRank(spark, sfDir).collect()
      .map(row => ((row.getString(0), row.getLong(1)), row.getLong(2)))
    assert(got.length == nodes.size)
    got.foreach { case (k, fp) => assert(fp == r(k), s"node $k") }
    Caches.releaseAll(spark)
  }

  test("pagerank rounds=10: still exact, plan depth O(1) in rounds") {
    // same independent walk, deeper iteration — proves the in-loop
    // localCheckpoint discipline: results stay bit-exact and the final
    // plan holds ONE round of joins regardless of rounds (without
    // truncation the optimized plan would chain 10 rounds ≈ 30 joins)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = pairs.toSeq.flatMap { case (c, s) =>
      Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val scale = 1000000000000L
    val n = nodes.size.toLong
    val base = (15L * (scale / n)) / 100L
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 10) {
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum }
      r = nodes.map(v => v -> (base + (85L * sums.getOrElse(v, 0L)) / 100L))
        .toMap
    }
    val df = operators.Analytics.pageRank(spark, sfDir, rounds = 10)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 3,
      s"plan depth grew with rounds: $joins joins in the final plan")
    val got = df.collect()
      .map(row => ((row.getString(0), row.getLong(1)), row.getLong(2)))
    assert(got.length == nodes.size)
    got.foreach { case (k, fp) => assert(fp == r(k), s"node $k") }
    Caches.releaseAll(spark)
  }

  test("pagerank checkpoint modes are bit-identical (local vs reliable)") {
    // the mode changes WHERE the round boundary materializes (executor-
    // local blocks vs the fault-tolerant checkpoint dir), never the
    // integer arithmetic — rounds=3 hits a multi-round lineage in both
    def collectRanks(mode: String) =
      operators.Analytics.pageRank(spark, sfDir, rounds = 3,
          checkpointMode = mode).collect()
        .map(row => ((row.getString(0), row.getLong(1)), row.getLong(2)))
        .toMap
    val local = collectRanks("local")
    val reliable = collectRanks("reliable")
    assert(local == reliable,
      s"modes diverge: ${local.size} vs ${reliable.size} nodes")
    assert(local.nonEmpty)
    Caches.releaseAll(spark)
  }

  test("weighted sample: exact match with an independent driver-side draw") {
    // plain-Scala A-ES replay: u from the first 12 md5 nibbles of
    // 'ws|'||doc_id, key = ln(u)/n_chars, top-200 by (key desc, id)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    def key(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ws|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h + 0.5) / math.pow(2.0, 48)) / w
    }
    val expected = docs.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(200)
    val got = operators.TextOps.weightedSample(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("es_key")))
    assert(got.length == math.min(200, docs.length))
    got.zip(expected).zipWithIndex.foreach { case (((gi, gk), (ei, ek)), n) =>
      assert(gi == ei, s"rank ${n + 1}: doc $gi vs $ei")
      assert(math.abs(gk - ek) < 1e-12, s"rank ${n + 1}: key $gk vs $ek")
    }
    // weighting sanity: the sample skews long — its mean n_chars beats
    // the corpus mean (deterministic given the fixture, not a flake)
    val byId = docs.toMap
    val sampleMean = got.map(g => byId(g._1)).sum.toDouble / got.length
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"weighted sample should skew long: $sampleMean vs $corpusMean")
    Caches.releaseAll(spark)
  }

  test("canonical selection: one keeper per cluster, keeper is longest") {
    val rows = operators.Dedup.canonicalSelection(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("n_members"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("is_kept")))
    val all = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == all, "every document gets a cluster row")
    rows.groupBy(_._2).foreach { case (c, members) =>
      assert(members.count(_._5 == 1L) == 1, s"cluster $c keeper count")
      assert(members.map(_._3).distinct.sizeIs == 1 &&
        members.head._3 == members.length, s"cluster $c n_members")
      val keeper = members.find(_._5 == 1L).get
      val best = members.minBy(m => (-m._4, m._1))
      assert(keeper._1 == best._1, s"cluster $c keeper not longest-then-min-id")
    }
    // clusters are consistent with the verified pair graph: every q95
    // pair at >= 0.5 lands in one cluster
    val pairs = operators.Dedup.minhashOracled(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusterOf = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(clusterOf(a) == clusterOf(b), s"pair ($a,$b) split across clusters")
    }
    Caches.releaseAll(spark)
  }

  test("tfidf cosine: scores are valid cosines over query-term docs") {
    import org.apache.spark.sql.functions.{col, explode}
    val rows = operators.TextOps.tfidfCosineTopK(spark, sfDir).collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0 && s <= 1.0 + 1e-9, s"cosine out of range: $s")
    }
    val terms = Set("spark", "join", "stream")
    val withTerm = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        explode(functions.TextAnalytics.tokens(col("text"))).as("t"))
      .collect().filter(r => terms(r.getString(1)))
      .map(_.getLong(0)).toSet
    rows.foreach(r => assert(withTerm(r.getAs[Long]("doc_id")),
      "ranked doc lacks every query term"))
    Caches.releaseAll(spark)
  }

  test("tokenizer fertility: language totals partition the corpus words") {
    val rows = operators.TextOps.tokenizerFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("tokens_per_word") >= 1.0,
        "a word tokenizes to at least one symbol")
      assert(r.getAs[Long]("n_chars") >= r.getAs[Long]("n_tokens"),
        "BPE tokens cannot outnumber characters")
    }
    val totalWords = rows.map(_.getAs[Long]("n_words")).sum
    val corpusWords = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        functions.TextAnalytics.tokens(
          org.apache.spark.sql.functions.col("text"))))
      .count()
    assert(totalWords == corpusWords, s"$totalWords vs $corpusWords")
    Caches.releaseAll(spark)
  }

  test("repetition runs: row-local fold, hand-checked runs on the fixture") {
    // plan: no Generate (explode) — the run fold happens inside the
    // scan projection; the only exchange is the presentation sort
    val df = operators.TextOps.repetitionRuns(spark, sfDir)
    val plan = preparedPlan(df)
    assert(!plan.toString.contains("Generate"),
      s"q177 exploded tokens:\n$plan")
    // independent driver-side recompute of the max run per doc
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = df.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id")).split("\\s+")
        .filter(_.nonEmpty)
      var best = 0; var run = 0; var prev = ""
      toks.foreach { t =>
        run = if (t == prev) run + 1 else 1
        prev = t; best = math.max(best, run)
      }
      assert(r.getAs[Long]("max_run") == best.toLong,
        s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
    }
    assert(got.exists(_.getAs[Long]("max_run") >= 2L),
      "fixture has no repeated runs — weak signal")
    Caches.releaseAll(spark)
  }

  test("token budget plan: flattening upsamples the scarce source, targets respect the budget") {
    import spark.implicits._
    // one dominant source (9000 tokens) and one scarce (90): α=0.5
    // gives the scarce source sqrt(90)/(sqrt(9000)+sqrt(90)) ≈ 9.1% of
    // the 4545-token budget ≈ 413 tokens ≈ 4.6 epochs — upsampled —
    // while the big source draws under one pass
    def doc(id: Long, src: String, n: Int) =
      (id, (0 until n).map(i => s"t$i").mkString(" "), "en", src, n.toLong)
    val docs = ((0 until 90).map(i => doc(i.toLong, "big", 100)) ++
      Seq(doc(1000L, "small", 90)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextOps.tokenBudgetPlanDf(spark, docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got.keySet == Set("big", "small"))
    val small = got("small"); val big = got("big")
    assert(small.getAs[Long]("n_tokens") == 90L)
    assert(big.getAs[Long]("n_tokens") == 9000L)
    assert(small.getAs[Long]("upsampled") == 1L &&
      small.getAs[Double]("epochs") > 4.0)
    assert(big.getAs[Long]("upsampled") == 0L &&
      big.getAs[Double]("epochs") < 1.0)
    // floor'd targets never exceed the budget (= total // 2)
    val targetSum = got.values.map(_.getAs[Long]("target_tokens")).sum
    assert(targetSum <= (9000L + 90L) / 2)
    Caches.releaseAll(spark)
  }

  test("split leakage audit: held-out rows only, ratios in [0,1]") {
    val rows = operators.TextOps.splitLeakageAudit(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).toSet == Set("val", "test"))
    rows.foreach { r =>
      val ratio = r.getAs[Double]("overlap_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("n_grams"))
    }
    Caches.releaseAll(spark)
  }

  test("mmr: distinct picks, first pick is the pure-relevance argmax") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Similarity.mmrSelect(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    assert(rows.map(_._1).toSeq == (1L to 5L))
    assert(rows.map(_._2).distinct.length == 5, "picks must be distinct")
    // rank 1 has no diversity penalty: it must be the plain cosine
    // argmax against vec 0 (fixed-point rounding, ties to lowest id)
    val emb = operators.Similarity.unitVectors(spark, sfDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val q = emb(0L)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val best = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, 0.7 * dot(v, q)) }
      .minBy { case (id, s) => (-math.floor(s * 1e9 + 0.5).toLong, id) }
    assert(rows.head._2 == best._1, s"rank-1 pick ${rows.head._2} vs ${best._1}")
    Caches.releaseAll(spark)
  }

  test("source report: volumes partition the corpus, ratios bounded") {
    val rows = operators.TextOps.sourceReport(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == spark.read.parquet(s"$sfDir/documents.parquet").count())
    rows.foreach { r =>
      val ratio = r.getAs[Double]("dup_ratio")
      assert(ratio >= 0.0 && ratio < 1.0)
      assert(r.getAs[Long]("n_dups") < r.getAs[Long]("n_docs"))
    }
    Caches.releaseAll(spark)
  }

  test("perplexity buckets: rank terciles partition, head outscores tail") {
    val rows = operators.TextOps.perplexityBuckets(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("avg_logprob"),
        r.getAs[String]("bucket")))
    val n = rows.length
    assert(n > 0)
    val byB = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byB("head") == n / 3, s"head size ${byB("head")} vs ${n / 3}")
    assert(byB("head") + byB("middle") == 2 * n / 3)
    val minHead = rows.filter(_._3 == "head").map(_._2).min
    val maxTail = rows.filter(_._3 == "tail").map(_._2).max
    assert(minHead >= maxTail - 1e-9,
      s"head must outscore tail: $minHead vs $maxTail")
    Caches.releaseAll(spark)
  }

  test("streaming weighted sample: multi-batch fold equals the batch draw") {
    // two single-file shards -> maxFilesPerTrigger=1 forces TWO
    // micro-batches, exercising the reservoir merge (state v0 + batch 1)
    // — the drained top-k must equal the one-shot batch q147 answer on
    // the union corpus
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val dir = JFiles.createTempDirectory("ws_stream").toString
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def shard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val stage = s"$dir/stage_$name"
        df.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        JFiles.move(part.toPath, Paths.get(s"$dir/$name"),
          StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      }
      shard(docs.filter(col("doc_id") % 2 === 0), "documents_a.parquet")
      shard(docs.filter(col("doc_id") % 2 === 1), "documents_b.parquet")
      val streamed = graft.streaming.StreamingOps
        .streamingWeightedSample(spark, dir).collect()
        .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("es_key")))
      val batch = operators.TextOps.weightedSample(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("es_key")))
      assert(streamed.toSeq == batch.toSeq,
        s"streamed ${streamed.length} rows != batch ${batch.length}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("source KL drift: non-negative, token volumes partition the corpus") {
    val rows = operators.TextOps.sourceKlDrift(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_terms"), r.getAs[Double]("kl")))
    assert(rows.nonEmpty)
    rows.foreach { case (s, _, _, kl) =>
      assert(kl >= -1e-12, s"KL must be >= 0 for $s: $kl")
    }
    val totalToks = rows.map(_._2).sum
    val corpusToks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        functions.TextAnalytics.tokens(
          org.apache.spark.sql.functions.col("text"))))
      .count()
    assert(totalToks == corpusToks, s"$totalToks vs $corpusToks")
    Caches.releaseAll(spark)
  }

  test("trigram backoff: held-out docs only, finite negative log-probs") {
    val rows = operators.TextOps.trigramBackoffScore(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_trigrams"),
        r.getAs[Double]("avg_logprob")))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, lp) =>
      assert(n > 0)
      assert(!lp.isNaN && !lp.isInfinite, s"doc $id: non-finite $lp")
      assert(lp < 0, s"doc $id: log-prob must be negative, got $lp")
    }
    // the scored set is exactly the held-out docs with >= 3 tokens
    import org.apache.spark.sql.functions.{col, size}
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        size(functions.TextAnalytics.tokens(col("text"))).as("n"))
      .collect()
      .filter(r => r.getInt(1) >= 3)
      .map(_.getLong(0))
      .filter { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"split|$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val b = Integer.parseInt(hex.substring(0, 2), 16)
        b >= 204 // val/test
      }.toSet
    assert(rows.map(_._1).toSet == expected)
    Caches.releaseAll(spark)
  }

  test("source dup matrix: pair mass equals q95's verified pair count") {
    val m = operators.Dedup.sourceDupMatrix(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source_lo"), r.getAs[String]("source_hi"),
        r.getAs[Long]("n_pairs"), r.getAs[Double]("avg_jaccard")))
    val q95 = operators.Dedup.minhashOracled(spark, sfDir).count()
    assert(m.map(_._3).sum == q95, "matrix must partition the pair set")
    m.foreach { case (lo, hi, _, aj) =>
      assert(lo <= hi, "canonical order violated")
      assert(aj >= 0.5 && aj <= 1.0, s"avg jaccard out of band: $aj")
    }
    Caches.releaseAll(spark)
  }

  test("cluster outliers: per-cluster worst-k, scores dominate the rest") {
    val out = operators.Similarity.clusterOutliers(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (cid, rows) =>
      assert(rows.length <= 3)
      val ss = rows.sortBy(_._2).map(_._4)
      assert(ss.zip(ss.drop(1)).forall { case (a, b) => a <= b + 1e-9 },
        s"cluster $cid outlier scores not ascending")
    }
    // every non-outlier member scores at least the cluster's worst-3 max
    val asn = operators.Similarity.kmeansAssign(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("score")))
    val outIds = out.map(_._3).toSet
    val worstMax = out.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    asn.filterNot(a => outIds(a._2)).foreach { case (cid, id, s) =>
      worstMax.get(cid).foreach(w =>
        assert(s >= w - 1e-9, s"vec $id in $cid scores $s below outlier max $w"))
    }
    Caches.releaseAll(spark)
  }

  test("media near-dup: catches a frame-permuted copy exact hashing misses") {
    // doc 1 = doc 0 with its 32-byte frames permuted: byte hash differs
    // (q28-style exact dedup misses it) but the frame-sum SET is
    // identical -> q163 must pair them at jaccard 1.0
    import spark.implicits._
    val frames = Seq.tabulate(6)(i => (('a' + i).toChar.toString * 32))
    val orig = frames.mkString
    val perm = (frames.drop(3) ++ frames.take(3)).mkString
    val other = ("z" * 32) * 6
    val docs = Seq(
      (0L, orig, "en", "s0", orig.length.toLong),
      (1L, perm, "en", "s0", perm.length.toLong),
      (2L, other, "en", "s1", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("mediand").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      assert(orig != perm, "permutation must change the byte stream")
      val pairs = operators.Multimodal.mediaNearDup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.toSeq == Seq((0L, 1L, 1.0)),
        s"expected exactly the permuted pair at 1.0, got ${pairs.toSeq}")
    } finally {
      Caches.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("minhash estimate: agreement fraction bounds and exact-dup case") {
    val rows = operators.Dedup.minhashEstimate(spark, sfDir).collect()
      .map(r => (r.getAs[Double]("jaccard"), r.getAs[Double]("mh_est"),
        r.getAs[Double]("abs_err")))
    assert(rows.nonEmpty)
    rows.foreach { case (j, e, err) =>
      assert(j >= 0 && j <= 1 && e >= 0 && e <= 1)
      assert(math.abs(err - math.abs(e - j)) < 1e-12)
      // identical shingle sets hash identically under every perm
      if (j == 1.0) assert(e == 1.0, "exact dup must agree on all perms")
    }
    Caches.releaseAll(spark)
  }
}
