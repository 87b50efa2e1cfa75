package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PhoneMerge, TextAnalytics, TextFunctions}
import graft.sources.Tables

/** Query-level wrappers for the scalar text layer: the reference's phone
  * extraction/merge (X1/X2) exercised over synthesized messy strings, and
  * the training-data text-analysis suite over `documents`.
  */
object TextOps {

  /** X1 — multi-value field extraction. The messy input is synthesized
    * from customer attributes (mixed separators, stray spaces), the shape
    * `groupContact.js` handles.
    */
  def extractMultiValue(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .withColumn("raw",
        concat_ws(";", col("c_name"), col("c_mktsegment"),
          concat(col("c_name"), lit(" / "), col("c_mktsegment"))))
      .select(
        col("c_custkey"),
        array_join(TextFunctions.extractPhones(col("raw")), ",").as("extracted"),
        size(TextFunctions.extractPhones(col("raw"))).cast("long").as("n_values"))
      .orderBy(col("c_custkey"))

  /** X2 collapse — order-preserving merge of two multi-value fields into
    * 10 slots + overflow, via [[PhoneMerge.mergedOrdered]].
    */
  def mergeMultiValue(spark: SparkSession, dir: String): DataFrame = {
    val existing = split(col("c_name"), "#")       // Customer, 000000001
    val incoming = TextFunctions.extractPhones(
      concat_ws(",", col("c_mktsegment"), col("c_name"), col("c_mktsegment")))
    Tables.customer(spark, dir)
      .withColumn("merged",
        PhoneMerge.mergedOrdered(existing, lit(null).cast("string"), incoming))
      .select(
        col("c_custkey"),
        array_join(PhoneMerge.slotsOf(col("merged")), "|").as("slots"),
        coalesce(PhoneMerge.overflowOf(col("merged")), lit("")).as("overflow"))
      .orderBy(col("c_custkey"))
  }

  /** Text-quality scoring suite over documents — every metric exact. */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalytics.subwordCount(col("text")).cast("long").as("n_subwords"),
        TextAnalytics.avgTokenLen(col("text")).as("avg_token_len"),
        TextAnalytics.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalytics.distinctRatio(col("text")).as("distinct_ratio"),
        TextAnalytics.qualityFlag(col("text")).as("quality_flag"))
      .orderBy(col("doc_id"))

  /** Marker-based language guess vs the labeled lang column. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalytics.langGuess(col("text")).as("lang_guess"))
      .orderBy(col("doc_id"))

  /** Bag-of-words fingerprint + duplicate grouping on it. */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TextAnalytics.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy(col("keeper"))

  /** Fuzzy matching: edit-distance near-duplicate names on a bounded
    * sample (the blocking key — same name length — keeps the pair space
    * linear-ish; at scale blocking precedes any pairwise metric).
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.customer(spark, dir)
      .filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    names.as("a").join(names.as("b"),
        col("a.id") < col("b.id") &&
          length(col("a.name")) === length(col("b.name")))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("dist") <= 2)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Date arithmetic family: day diffs, offsets, month boundaries. */
  def dateArithmetic(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_ref"),
        date_add(col("o_orderdate").cast("date"), 30).cast("string").as("due_date"),
        trunc(col("o_orderdate").cast("date"), "month").cast("string").as("order_month"))
      .orderBy(col("o_orderkey"))

  /** Training-set selection pipeline: language filter + quality gate +
    * fingerprint dedup, reported per (lang, source) — the composite
    * 100 TB curation query.
    */
  def corpusSelection(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(TextAnalytics.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .filter(col("lang").isin("en", "de", "es"))
      .filter(TextAnalytics.qualityFlag(col("text")) === 1)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** TF-IDF top-k terms per document — the classic corpus-quality /
    * keyword-extraction primitive. All linear passes: one shuffle to
    * count (doc, term), window over doc for lengths, window over term
    * for document frequency (both map-side-combinable at scale via
    * two-level agg); the corpus count rides in as a one-row broadcast
    * so the plan stays fully declarative.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val byTerm = Window.partitionBy(col("term"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf
      .withColumn("doc_len", sum(col("cnt")).over(byDoc))
      .withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("cnt").cast("double") / col("doc_len").cast("double")) *
          log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rk", row_number().over(rank))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** TF-IDF cosine retrieval (q151): the vector-space twin of BM25
    * (q130) — documents ranked by cosine between their FULL tf-idf
    * vector (q67's weighting: (tf/len)·ln(N/df)) and the query's. The
    * norm runs over every term of the document, not just query terms,
    * so verbose documents are properly penalized — the classic VSM
    * contrast to BM25's length saturation; shipping both lets a
    * curation stack A/B relevance functions on the same corpus scan.
    *
    * 100 TB shape: one explode→(doc,term) aggregate; df and the doc
    * norms are aggregates on the same keys; the query side is |Q|
    * broadcast rows. Ranking selects by fixed-point-rounded score
    * (q130's determinism trick) via TakeOrderedAndProject.
    */
  def tfidfCosineTopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "stream"),
      topK: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalytics.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val byTerm = Window.partitionBy(col("term"))
    val weighted = tf
      .withColumn("doc_len", sum(col("cnt")).over(byDoc))
      .withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("w",
        (col("cnt").cast("double") / col("doc_len").cast("double")) *
          log(col("n_docs").cast("double") / col("df").cast("double")))
      .persist()
    val normD = weighted.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("norm_d"))
    // query vector: tf = 1 per term, length |Q|; terms absent from the
    // corpus contribute nothing (df = 0 has no weight to give)
    val qw = weighted
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("df"), col("n_docs")).distinct()
      .withColumn("qw", (lit(1.0) / lit(terms.size.toDouble)) *
        log(col("n_docs").cast("double") / col("df").cast("double")))
      .select(col("term"), col("qw"))
    val qNorm = qw.agg(sqrt(sum(col("qw") * col("qw"))).as("norm_q"))
    weighted
      .join(broadcast(qw), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("qw")).as("dot"))
      .join(normD, Seq("doc_id"))
      .crossJoin(broadcast(qNorm))
      .select(col("doc_id"),
        (col("dot") / (col("norm_d") * col("norm_q"))).as("score"))
      .orderBy(floor(col("score") * lit(1e9) + lit(0.5)).cast("long").desc,
        col("doc_id"))
      .limit(topK)
      .orderBy(col("doc_id"))
  }

  /** Fixed-size token-window chunking with stride — the "split documents
    * into training windows" step of an LLM data pipeline. Pure HOFs:
    * window starts are a generated sequence filtered to the doc length,
    * so the expansion factor is exactly chunkSize/stride and the only
    * shuffle is the final presentation sort. Each chunk re-materializes
    * its text (that is the point — downstream tokenization consumes
    * chunks independently), so output size ≈ input × chunkSize/stride.
    */
  def chunkDocuments(spark: SparkSession, dir: String,
      chunkSize: Int = 50, stride: Int = 40): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    // persist = materialization barrier: without it project-collapse
    // re-inlines the tokenization into every post-explode chunk row
    // (O(len²/stride) per doc). See Caches for the release contract.
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .persist()
      .select(col("doc_id"), col("toks"),
        explode(
          filter(
            transform(
              sequence(lit(0),
                greatest(
                  ceil(size(col("toks")).cast("double") / stride).cast("int") - 1,
                  lit(0))),
              i => i * stride),
            s => s < size(col("toks")) || s === 0)).as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        size(slice(col("toks"), col("start") + 1, lit(chunkSize))).cast("long")
          .as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkSize)))
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Unigram language-model quality score (CCNet-style): each document
    * scored by the mean log-probability of its tokens under the
    * corpus's own unigram distribution — low scores flag gibberish /
    * boilerplate outliers for filtering. Two linear passes: the
    * frequency table is a map-side-combined groupBy (vocabulary-sized
    * output), then a token→frequency join and a per-doc average. The
    * join deliberately carries NO broadcast hint: a web-scale corpus's
    * unigram vocabulary (1e8+ rows) cannot live on the driver, so the
    * plan must stay a shuffle join at 100 TB — locally AQE sees the
    * small vocabulary at runtime and converts to broadcast on its own.
    *
    * The corpus is scanned and tokenized exactly ONCE: the exploded
    * token stream is immediately collapsed to `(doc_id, tok) → cnt`
    * (map-side combine shrinks it to per-doc vocabulary size) and
    * persisted as the single shared base. The global frequency table
    * re-aggregates those counts (no second scan), and the per-doc
    * score is the cnt-weighted mean — identical to the token-level
    * mean the oracle computes, since each token's log-prob appears
    * cnt times.
    */
  def unigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .persist() // barrier: freq derives from this, no re-tokenize
    val freq = docTok.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
    val total = freq.agg(sum(col("tf")).as("n_total"))
    docTok
      .join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        (sum(col("cnt").cast("double") *
            log(col("tf").cast("double") / col("n_total").cast("double"))) /
          sum(col("cnt")).cast("double")).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Eval-set decontamination: flag training documents sharing at least
    * `minShared` distinct word n-grams with any held-out document — the
    * screening step that keeps benchmark data out of a training mix.
    * The held-out set (here: every 100th doc as a stand-in for an
    * external benchmark file) is selected BEFORE shingling, so only
    * those docs pay the eval-side tokenize/shingle cost and the
    * broadcast is of a genuinely bounded input — the training corpus is
    * scanned, shingled, and exploded exactly once and streams through
    * the broadcast join with no shuffle. Grams cross the join as
    * xxhash64 longs, not strings (same rationale and collision math as
    * [[Dedup.ngramJaccard]]): the per-pair distinct count shuffles 8-byte
    * keys instead of arbitrary-length gram text.
    */
  def decontamination(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    // gram hashes straight from the native one-pass kernel — same
    // values as xxhash64 over the gram strings, no string arrays
    def grams(df: DataFrame, idAlias: String): DataFrame = df
      .select(col("doc_id").as(idAlias),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .shingleHashes(col("text"), 3)).as("gh"))
    val docs = Tables.documents(spark, dir)
    val eval = grams(docs.filter(col("doc_id") % 100 === 0), "eval_id")
    val train = grams(docs.filter(col("doc_id") % 100 =!= 0), "train_id")
    train.join(broadcast(eval), "gh")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("gh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Context-length truncation audit (q176): for each candidate
    * sequence cap, exactly how many documents would be truncated and
    * what fraction of the corpus token mass a hard cut at that length
    * drops — the table a context-length/packing decision reads next to
    * q84's packing and q83's length buckets. Exact longs; one scan.
    *
    * 100 TB shape: per-doc token counts reduce row-locally in the scan
    * projection; the audit is a single global aggregate (map-side
    * combined) fanned out to one row per cap.
    */
  def truncationAudit(spark: SparkSession, dir: String,
      caps: Seq[Int] = Seq(32, 64, 128)): DataFrame = {
    val n = col("n")
    val base = Tables.documents(spark, dir)
      .select(TextAnalytics.tokenCount(col("text")).cast("long").as("n"))
    val aggCols = Seq(
      count(lit(1)).as("n_docs"),
      sum(n).as("total_tokens")) ++
      caps.flatMap(c => Seq(
        sum(when(n > c, 1L).otherwise(0L)).as(s"d$c"),
        sum(greatest(n - c, lit(0L))).as(s"t$c")))
    val aggs = base.agg(aggCols.head, aggCols.tail: _*)
    aggs.select(explode(array(caps.map(c =>
        struct(lit(c.toLong).as("cap"), col(s"d$c").as("docs_truncated"),
          col(s"t$c").as("tokens_dropped"))): _*)).as("e"),
        col("n_docs"), col("total_tokens"))
      .select(col("e.cap").as("cap"), col("n_docs"), col("total_tokens"),
        col("e.docs_truncated").as("docs_truncated"),
        col("e.tokens_dropped").as("tokens_dropped"),
        (col("e.tokens_dropped").cast("double") /
          col("total_tokens").cast("double")).as("drop_ratio"))
      .orderBy(col("cap"))
  }

  /** Degenerate-repetition detector (q177): the longest run of the
    * SAME token repeated consecutively per document — the "the the
    * the" loop signal every quality pipeline hard-filters on (model-
    * generated and template spam both light it up; type/token ratio
    * q24 misses a single long loop inside an otherwise-diverse doc).
    * Flagged at run ≥ 3.
    *
    * 100 TB shape: the run fold is a row-local HOF over the token
    * array inside the scan projection — no explode, no shuffle but
    * the presentation sort. The oracle spells the same statistic
    * relationally (gaps-and-islands over positions), pinning the fold
    * cross-engine.
    */
  def repetitionRuns(spark: SparkSession, dir: String): DataFrame = {
    val runState = aggregate(col("toks"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        runState.cast("long").as("max_run"))
      .withColumn("flagged",
        when(col("max_run") >= 3, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary coverage curve (q172): for each candidate vocab size k,
    * the exact fraction of corpus TOKEN MASS covered by the k most
    * frequent types (ties broken lexically — deterministic) — the
    * table a tokenizer-sizing decision reads (coverage vs k is the
    * classic knee curve; the complement is the OOV rate a k-type vocab
    * would pay). Counts are exact longs, so the curve is fully
    * oracled.
    *
    * 100 TB shape: one corpus scan into the (token, tf) vocab relation
    * (map-side combined); the ranking window runs over the VOCAB, not
    * the corpus (types ≪ tokens; at web scale the vocab table is
    * millions of rows — window-sortable — while the corpus is not),
    * and the coverage rollup is one pass over the ranked vocab.
    */
  def vocabCoverage(spark: SparkSession, dir: String,
      ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
    val ranked = tf.withColumn("rk", row_number().over(
      Window.orderBy(col("tf").desc, col("token"))))
    val aggCols = Seq(
      count(lit(1)).as("n_types"),
      sum(col("tf")).as("total_tokens")) ++
      ks.map(k => sum(when(col("rk") <= k, col("tf")).otherwise(0L))
        .as(s"c$k"))
    val aggs = ranked.agg(aggCols.head, aggCols.tail: _*)
    aggs.select(explode(array(ks.map(k =>
        struct(lit(k.toLong).as("k"), col(s"c$k").as("covered_tokens"))): _*))
        .as("e"), col("n_types"), col("total_tokens"))
      .select(col("e.k").as("k"), col("n_types"), col("total_tokens"),
        col("e.covered_tokens").as("covered_tokens"),
        (col("e.covered_tokens").cast("double") /
          col("total_tokens").cast("double")).as("coverage"))
      .orderBy(col("k"))
  }

  /** Per-language corpus entropy (q173): the unigram entropy rate
    * H = −Σ p ln p over each language's empirical token distribution,
    * with its perplexity exp(H) — the corpus-health diagnostic that
    * says how "compressible" each language slice is (a collapsed slice
    * — bot spam, template floods — shows up as an entropy crater long
    * before a human reads it). Probabilities are exact long ratios;
    * ln/exp follow the q79/q129 cross-engine precedent (both
    * comparators round at 1e-9, and the Σ over a vocab-sized term set
    * keeps accumulated ulp noise orders below that).
    *
    * 100 TB shape: one scan to the (lang, token, tf) relation
    * (map-side combined); the entropy fold is per-language over the
    * VOCAB, not the corpus. Nothing driver-side.
    */
  def corpusEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyFromLangCounts(langTokenCountsOf(Tables.documents(spark, dir)))

  /** The (lang, token, cnt) grain — sum-merges per (lang, token), so
    * q312's streaming state is exactly this table.
    */
  private[graft] def langTokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** The q173 finish off the (lang, token) count grain. */
  private[graft] def entropyFromLangCounts(cnts: DataFrame): DataFrame = {
    val tf = cnts.select(col("lang"), col("token"), col("cnt").as("tf"))
    val totals = tf.groupBy(col("lang"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"))
    tf.join(totals, Seq("lang"))
      .withColumn("p", col("tf").cast("double") /
        col("n_tokens").cast("double"))
      .groupBy(col("lang"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_types")).as("n_types"),
        (-sum(col("p") * log(col("p")))).as("entropy"))
      .withColumn("perplexity", exp(col("entropy")))
      .orderBy(col("lang"))
  }

  /** Token-budget mix planner (q171): the per-source sampling table a
    * training run is configured from (the LLaMA/DoReMi-style "epochs
    * per source" plan) — given each source's exact token count, a
    * global token budget (half the corpus, an exact integer), and
    * α = 0.5 temperature flattening (q135's rule: sqrt is IEEE
    * correctly-rounded, and the share denominator folds in pinned
    * source order, so every double is bit-identical cross-engine),
    * emit per source the target token draw, the implied epochs, and
    * whether the source is UPSAMPLED (epochs > 1 — the flattening
    * pushing a low-resource source past one full pass, the decision a
    * mix reviewer actually looks for).
    *
    * 100 TB shape: one corpus scan for exact per-source token counts
    * (map-side combined longs); the plan itself is a bounded
    * #sources-row driver model (the q135 contract). Fully oracled.
    */
  def tokenBudgetPlan(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetPlanDf(spark, Tables.documents(spark, dir))

  def tokenBudgetPlanDf(spark: SparkSession,
      docsRaw: DataFrame): DataFrame = {
    import spark.implicits._
    val stats = docsRaw
      .select(col("source"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("tc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
      .orderBy(col("source"))
      .collect()
    val budget = stats.map(_.getAs[Long]("n_tokens")).sum / 2
    val weights = stats.map(r =>
      math.sqrt(r.getAs[Long]("n_tokens").toDouble))
    val wTot = weights.sum // left fold in source order
    val rows = stats.zip(weights).map { case (r, w) =>
      val nTokens = r.getAs[Long]("n_tokens")
      val target = math.floor(budget.toDouble * w / wTot).toLong
      val epochs = target.toDouble / nTokens.toDouble
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), nTokens,
        target, epochs, if (epochs > 1.0) 1L else 0L)
    }
    rows.toSeq
      .toDF("source", "n_docs", "n_tokens", "target_tokens", "epochs",
        "upsampled")
      .orderBy(col("source"))
  }

  /** Near-dup decontamination (q170): the stronger sibling of the
    * exact-n-gram screen [[decontamination]] — training documents that
    * are NEAR-duplicates of held-out documents (q136's split rule:
    * train vs val/test) slip past exact gram matching when lightly
    * edited, which is precisely the contamination mode benchmark
    * paraphrases exhibit. Candidates come from the q95 md5-LSH banding
    * run CROSS-side (train bands ⋈ held-out bands — never a corpus
    * self-join), hot buckets quarantined by the population-level cap
    * ([[Dedup.BandBucketCap]], the uniform banding discipline), and
    * each surviving pair exact-Jaccard-verified. Emits the
    * (train_id, heldout_id, heldout_split, jaccard) audit table a team
    * reviews before dropping train docs.
    *
    * 100 TB shape: same as q95 — signatures and band keys shuffle,
    * never text; pair work is bucket-bounded; verification is
    * candidate-bounded. Fully oracled (the q95 chain + the q136 split
    * CTE, cross-side predicate).
    */
  def neardupDecontamination(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val sh = Dedup.md5ShingledDocs(Tables.documents(spark, dir)).persist()
    // barrier on the band table (the q111/minhashCandidatePairs
    // discipline, r19): capHotBuckets reads it twice (counts + anti
    // join) and the cross-side join reads the capped result on both
    // sides — unpersisted, the perms× md5 signature kernel re-runs
    // per consumer
    val banded = Dedup.capHotBuckets(
      Dedup.md5BandedSignatures(sh).persist())
    val isTrain = splitCol("doc_id") === "train"
    val trainB = banded.filter(isTrain)
      .select(col("doc_id").as("train_id"), col("band"), col("bucket"))
    val heldB = banded.filter(!isTrain)
      .select(col("doc_id").as("heldout_id"), col("band"), col("bucket"))
    val pairs = trainB.join(heldB, Seq("band", "bucket"))
      .select(col("train_id"), col("heldout_id"))
      .distinct()
    Dedup.md5VerifyPairs(pairs, sh, "train_id", "heldout_id", minJaccard)
      .withColumn("heldout_split", splitCol("heldout_id"))
      .select(col("train_id"), col("heldout_id"), col("heldout_split"),
        col("jaccard"))
      .orderBy(col("train_id"), col("heldout_id"))
  }

  /** Per-source contamination scorecard (q245): the r10 verdict's ask
    * to join the decontamination family into ONE per-source table — for
    * each source, over the q136 split: training docs that leak into
    * the heldout splits EXACTLY (shared content hash), LEXICALLY
    * (≥ `minShared` shared distinct 3-grams with some heldout doc —
    * the q80 rule at the q136 split), and as NEAR-DUPS (the q170
    * md5-LSH + Jaccard ≥ 0.5 screen), each as a count and a rate over
    * the source's training docs. This is the table that tells a mix
    * planner WHICH source is poisoning evals before any per-pair
    * digging (q80/q153/q170 are the per-pair evidence).
    *
    * 100 TB shape: hashes and gram longs shuffle, never text; the
    * near-dup member rides the capped banding chain; per-source
    * roll-ups are map-side-combined #sources-row aggregates.
    */
  def contaminationScorecard(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"),
        splitCol("doc_id").as("split"))
      // barrier: feeds the marginals and three leak-set joins
      .persist()
    val train = base.filter(col("split") === "train")
    val held = base.filter(col("split") =!= "train")
    val exactLeak = train
      .join(held.select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"))
    def grams(df: DataFrame, a: String) = df
      .select(col("doc_id").as(a),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .shingleHashes(col("text"), 3)).as("gh"))
    val gsrc = docs
      .select(col("doc_id"), col("text"), splitCol("doc_id").as("split"))
    val lexLeak = grams(gsrc.filter(col("split") === "train"), "train_id")
      .join(grams(gsrc.filter(col("split") =!= "train"), "held_id")
        .distinct(), "gh")
      .groupBy(col("train_id"), col("held_id"))
      .agg(countDistinct(col("gh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_id").as("doc_id")).distinct()
    val nearLeak = neardupDecontamination(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
    def srcCount(ids: DataFrame, name: String) = base
      .join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as(name))
    def rate(n: Column) = when(col("n_train") > 0,
      n.cast("double") / col("n_train").cast("double")).otherwise(lit(0.0))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") =!= "train", 1L).otherwise(0L))
          .as("n_heldout"))
      .join(srcCount(exactLeak, "n_exact_leak"), Seq("source"), "left")
      .join(srcCount(lexLeak, "n_lex_leak"), Seq("source"), "left")
      .join(srcCount(nearLeak, "n_near_leak"), Seq("source"), "left")
      .na.fill(0L, Seq("n_exact_leak", "n_lex_leak", "n_near_leak"))
      .select(col("source"), col("n_docs"), col("n_train"),
        col("n_heldout"), col("n_exact_leak"), col("n_lex_leak"),
        col("n_near_leak"),
        rate(col("n_exact_leak")).as("exact_rate"),
        rate(col("n_lex_leak")).as("lex_rate"),
        rate(col("n_near_leak")).as("near_rate"))
      .orderBy(col("source"))
  }

  // shared with the q345–q349 PII family (operators/Pii.scala); the
  // exact patterns are dialect-portable (q82 proves Java-regex ↔ RE2
  // parity for \b, \d, groups and the {m,n} quantifiers)
  private[graft] val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRx = "\\+1-\\d{3}-\\d{4}"
  private[graft] val IpRx = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII redaction — the scrubbing pass of a training-data pipeline:
    * emails, phone numbers, and IPv4 literals replaced with typed
    * placeholder tokens, with per-doc match counts for audit. The
    * corpus text is synthesized to contain deterministic PII (the test
    * tables are clean by construction); every step is a row-local
    * codegen'd regex — at 100 TB this runs inside the scan with zero
    * shuffles beyond the presentation sort. Redaction order (email →
    * phone → ip) is fixed so engines can't disagree on overlaps.
    */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("doc "), col("doc_id"),
      lit(" contact user"), pmod(col("doc_id"), lit(50)),
      lit("@example.com or admin@site"), pmod(col("doc_id"), lit(7)),
      lit(".org call +1-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit("-"),
      lpad(pmod(col("doc_id") * 3, lit(10000)).cast("string"), 4, "0"),
      lit(" from 192.168."), pmod(col("doc_id"), lit(256)),
      lit("."), pmod(col("doc_id") * 7, lit(256)),
      lit(" :: "), substring(col("text"), 1, 40))
    Tables.documents(spark, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRx), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRx), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(IpRx), lit(0)))
          .cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRx, "<EMAIL>"),
            PhoneRx, "<PHONE>"),
          IpRx, "<IP>").as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-length bucketing — the histogram that shapes training
    * batches (pad-to-bucket beats pad-to-max): docs per (lang, token-
    * length bucket) with total token mass. One map-side-combined
    * aggregation over row-local token counts.
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = TextAnalytics.tokenCount(col("text"))
    val bucket = when(n < 64, "a_0-63")
      .when(n < 128, "b_64-127")
      .when(n < 256, "c_128-255")
      .when(n < 512, "d_256-511")
      .otherwise("e_512+")
    Tables.documents(spark, dir)
      .select(col("lang"), n.as("n_tokens"), bucket.as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Greedy sequence packing: documents stream (per pack stream, in
    * doc_id order) into fixed `capacity`-token context windows — each
    * doc lands in the pack where its cumulative offset starts, the
    * contiguous-fill packing used to batch pretraining data. The only
    * state is a running token sum (window function); a doc longer than
    * the remaining space spills into the next pack, so fill can exceed
    * 1.0 on boundary packs — exactly the behavior a downstream
    * splitter expects.
    *
    * Pack streams are `(lang, shard)`, NOT bare `lang`: a window
    * partitioned only by language would sort each language's ENTIRE
    * token stream in one task — the single-task scale killer at
    * 100 TB. Sharding by `doc_id % numShards` keeps every window
    * partition ~corpus/(langs·shards) and each shard still packs
    * contiguously; packs never span shards, which is what a parallel
    * writer wants anyway (each shard is an independent output stream).
    * The modulus (not a hash) keeps the shard function exactly
    * reproducible in the SQL oracle; sequential doc_ids spread
    * uniformly. numShards is the knob you raise with corpus size.
    */
  def sequencePacking(spark: SparkSession, dir: String,
      capacity: Int = 2048, numShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        pmod(col("doc_id"), lit(numShards.toLong)).as("shard"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("offset") / capacity))
      .groupBy(col("lang"), col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"), col("shard"), col("pack_id"))
  }

  /** Repetition signals (Gopher/MassiveText-style quality rules): the
    * fraction of a document covered by its single most frequent bigram
    * and the duplicated-trigram fraction — the filters that catch
    * boilerplate loops and degenerate generations, complementary to
    * q24's length/stopword/ttr metrics. The trigram signal is fully
    * row-local (array math); the bigram mode needs a per-(doc, gram)
    * count — a two-level map-side-combinable aggregation, the standard
    * distributed mode-finding shape.
    */
  def repetitionSignals(spark: SparkSession, dir: String,
      maxTopBigram: Double = 0.12, maxDupTrigram: Double = 0.02): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    // persist barrier: tokenization feeds both the exploded bigram
    // branch and the row-local trigram branch
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .persist()
    val biMode = base
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode(TextAnalytics.positionalShinglesOfTokens(col("toks"), 2))
          .as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"), min(col("n_tokens")).as("n_tokens"))
      .groupBy(col("doc_id"))
      .agg(min(col("n_tokens")).as("n_tokens"), max(col("cnt")).as("max_bi"))
    val tri = base.select(
      col("doc_id"),
      greatest(size(col("toks")) - 2, lit(0)).as("total_tri"),
      size(array_distinct(
        TextAnalytics.positionalShinglesOfTokens(col("toks"), 3)))
        .as("distinct_tri"))
    biMode.join(tri, "doc_id")
      .withColumn("top_bigram_frac",
        (col("max_bi") * 2).cast("double") / col("n_tokens").cast("double"))
      .withColumn("dup_trigram_frac",
        (col("total_tri") - col("distinct_tri")).cast("double") /
          greatest(col("total_tri"), lit(1)).cast("double"))
      .withColumn("repetition_flag",
        when(col("top_bigram_frac") >= maxTopBigram ||
          col("dup_trigram_frac") >= maxDupTrigram, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("top_bigram_frac"), col("dup_trigram_frac"),
        col("repetition_flag"))
      .orderBy(col("doc_id"))
  }

  /** Weighted corpus mixing — the "temperature" step of a multilingual
    * training mix: each language keeps a deterministic fraction of its
    * documents (en 1.0, de/es 0.5, fr 0.25, zh 0.125) selected by
    * comparing a content-independent hash against a hex-prefix
    * threshold (md5 hex is uniform, so `hash < "8"` keeps ~1/2,
    * `< "4"` ~1/4 …). Fully row-local decision — at 100 TB the keep
    * filter runs inside the scan with zero coordination, and the same
    * doc is kept or dropped on every rerun (reproducible mixes).
    */
  def weightedMix(spark: SparkSession, dir: String): DataFrame = {
    val hk = md5(col("doc_id").cast("string").cast("binary"))
    val thr = when(col("lang") === "en", lit("zz"))
      .when(col("lang") === "de", lit("8"))
      .when(col("lang") === "es", lit("8"))
      .when(col("lang") === "fr", lit("4"))
      .otherwise(lit("2"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        when(hk < thr, 1L).otherwise(0L).as("keep"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        (sum(col("keep")).cast("double") / count(lit(1)).cast("double"))
          .as("kept_ratio"))
      .orderBy(col("lang"))
  }

  /** Weighted sampling without replacement (q147): the Efraimidis–
    * Spirakis A-ES scheme with DETERMINISTIC randomness — each doc
    * draws u ∈ (0,1) from the first 12 md5 nibbles of its id (a 48-bit
    * integer, exact in a double) and is ranked by key = ln(u)/w with
    * w = n_chars; the top-k keys are the weighted sample. Longer
    * documents are proportionally likelier — the importance-sampling
    * primitive behind quality-weighted corpus mixing — and the whole
    * draw replays bit-identically in any engine (ln agreement is
    * within the 1e-9 float rounding both comparators use, the q79/q129
    * precedent).
    *
    * 100 TB shape: key is row-local; the global top-k plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort); the
    * rank window runs AFTER the limit, over k rows.
    */
  def weightedSample(spark: SparkSession, dir: String,
      k: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("ws|"),
      col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("double")
    val u = (h + lit(0.5)) / lit(math.pow(2.0, 48))
    // selection + rank on the fixed-point-rounded key (the q151/q154/
    // q156 discipline): a last-ulp cross-engine ln disagreement at the
    // rank-k boundary must not select different docs
    val esRank = floor(col("es_key") * lit(1e9) + lit(0.5)).cast("long")
    val scored = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("es_key"))
      .orderBy(esRank.desc, col("doc_id"))
      .limit(k)
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy(esRank.desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("lang"), col("n_chars"),
        col("es_key"))
      .orderBy(col("rk"))
  }

  /** Deterministic stratified sampling: a fixed-size, reproducible
    * per-language sample ranked by a content-independent hash
    * (md5 of the doc id — identical in any engine, stable across runs).
    * The balancing step of a multilingual training-data mix. At 100 TB
    * the per-group window wants a pre-filter: the hash is uniform, so
    * `hk < threshold(perGroup / group_count)` cuts the corpus to ~the
    * sample size BEFORE the window sorts anything; kept exact here.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
      perGroup: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perGroup)
      .select(col("lang"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Token-budget corpus assembly (q110): rank each language's
    * documents by quality (type/token ratio, ties to doc_id) and keep
    * documents until the running token total crosses the per-language
    * budget — the SlimPajama-style "best N tokens" selection step. A
    * document is kept when it STARTS under budget, so the kept set is a
    * prefix of the quality ordering and the output records where every
    * document landed (rank, cumulative tokens, kept flag).
    *
    * Exact here via a per-language window; at 100 TB the full sort is
    * replaced by the standard two-pass form — approx-quantile the
    * quality score to find the budget threshold, then filter — the
    * same trade [[stratifiedSample]]'s scaladoc records.
    */
  def tokenBudgetSelection(spark: SparkSession, dir: String,
      budget: Long = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("distinct_ratio").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalytics.distinctRatio(col("text")).as("distinct_ratio"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("kept",
        (col("cum_tokens") - col("n_tokens") < budget).cast("long"))
      .select(col("lang"), col("rank"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Deterministic corpus shuffle + shard manifest (q101): the step
    * between curation and the dataloader. Each document gets a
    * content-independent pseudo-random rank (md5 of the doc id —
    * identical in any engine, stable across runs), a shard (leading
    * hash nibble — 16-way here; at 100 TB widen the prefix so shards
    * stay O(file-size)), its position within the shard, and the
    * cumulative token offset where it starts — exactly the manifest a
    * training job seeks into.
    *
    * Scale shape: NO global sort — the permutation is realized as
    * hash-sharding plus per-shard ordering, so every window partitions
    * by shard and the work is embarrassingly parallel across shards;
    * the trailing ORDER BY is presentation only.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("shard"))
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
      .withColumn("shard", substring(col("hk"), 1, 1))
      .withColumn("pos", row_number().over(byPos).cast("long"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("pos"), col("doc_id"),
        col("n_tokens"), col("tok_offset"))
      .orderBy(col("shard"), col("pos"))
  }

  /** N-gram novelty: for each document, the fraction of its distinct
    * word 3-grams NOT already present in any earlier (lower doc_id)
    * document — the redundancy-vs-fresh-content signal a crawl-ordered
    * curation pass ranks on. Shape at 100 TB: grams cross the shuffle as
    * fixed-width hashes, never strings; one groupBy finds each gram's
    * first owner, one equi-join on the same key attributes it back —
    * both linear, no self-join. md5 here keeps the oracle exact; the
    * production swap is the 64-bit native kernel hash (same plan).
    */
  /** Corpus snapshot diff (q117): per-document added / removed /
    * changed / unchanged status between two corpus versions by content
    * hash — the audit step every incremental curation pipeline runs
    * before promoting a snapshot (and the set-level generalization of
    * the reference's watermark delta, which only ever sees appends).
    * The two versions here are deterministic derivations of the same
    * fixture so the op is fully oracled: "current" drops doc_id % 7 == 3
    * (removals), "previous" lacks doc_id % 10 == 9 (additions) and has
    * doc_id % 13 == 0 upper-cased (changes).
    *
    * Scale shape: each side reduces to (doc_id, md5) at the scan — the
    * full-outer join shuffles 16-byte hashes, never text; at 100 TB
    * both snapshots would be bucketed on doc_id and the join is
    * exchange-free (the q85 path).
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h_cur"))
    val prev = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 13 === 0, upper(col("text")))
          .otherwise(col("text")).cast("binary")).as("h_prev"))
    cur.join(prev, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_cur").isNull, lit("removed"))
          .when(col("h_cur") =!= col("h_prev"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy(col("doc_id"))
  }

  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // gram hashes straight from the native one-pass kernel: 8-byte
    // xxhash64 longs instead of exploded gram strings + md5 — the
    // q80/q29 discipline (same distinct-gram set, same collision
    // math); the hash never appears in the output, only the counts
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.VectorExpressions
          .shingleHashes(col("text"), 3)).as("gh"))
      .persist() // barrier: first-owner agg + attribution join both read it
    val firstOwner = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams
      .join(firstOwner, "gh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      .withColumn("novelty",
        (col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary report (q126): per-token term frequency,
    * document frequency, and corpus coverage, top-k by tf — the
    * artifact a BPE/vocab-training pass reads first (which tokens to
    * merge, what a candidate vocab covers), and the df table behind
    * stopword/boilerplate thresholds.
    *
    * 100 TB shape: ONE two-level aggregation on token (map-side
    * combine reduces each partition to its local vocab before the
    * shuffle); the corpus-total denominator is a 1-row aggregate
    * broadcast back — no unpartitioned window over the vocab, no
    * second corpus pass. Top-k is TakeOrderedAndProject under a total
    * order (tf desc, token asc — tokens are unique, so the boundary
    * is deterministic).
    */
  def vocabReport(spark: SparkSession, dir: String,
      topK: Int = 100): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
    val perTok = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
    val total = perTok.agg(sum(col("tf")).as("total"))
    perTok.crossJoin(broadcast(total))
      .select(col("token"), col("tf"), col("df"),
        (col("tf").cast("double") / col("total").cast("double"))
          .as("coverage"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topK)
  }

  /** Bigram LM quality score (q129): the CCNet-style LM filter one
    * order up from [[unigramLmScore]] — per-document mean add-one
    * smoothed bigram log-probability, log P(w2|w1) =
    * log((c(w1,w2)+1) / (c1(w1)+V)), with c1 the bigram-prefix count
    * and V the corpus vocabulary size. Low scores flag text whose
    * word TRANSITIONS are improbable even when its unigrams are
    * common — gibberish that q79 cannot see.
    *
    * 100 TB shape: bigram counting is one map-side-combined
    * aggregation off the per-(doc, bigram) table (itself map-side
    * combined); the model joins are hash equi-joins on the bigram/
    * prefix keys; V is a 1-row broadcast. The corpus is tokenized
    * once behind a persist barrier.
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .persist()
    val docBg = toks
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val c2 = docBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = toks
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    docBg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        (sum(col("cnt").cast("double") *
            log((col("c2").cast("double") + 1.0) /
              (col("c1").cast("double") + col("v").cast("double")))) /
          sum(col("cnt")).cast("double")).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Feature-hashing vectorizer (q127): each document becomes a
    * fixed-`dim` bucket-count vector via an md5-nibble token hash —
    * the HashingTF shape: no vocabulary pass, no model, and entirely
    * ROW-LOCAL (zero shuffle; the only exchange is the presentation
    * sort). The hash is the same md5 first-nibble both engines
    * evaluate (the q120/q121 oracle pattern), so the vectors
    * hash-check cross-engine. Production dims are 2^18+; the oracle
    * pins 16 for a readable cross-engine check — dim only widens the
    * row-local output array, the shape is unchanged. The vector is
    * emitted comma-serialized (`"3,0,1,…"`) rather than as
    * `array<long>`: the driver's comparator sorts output frames and an
    * array column is unhashable there — every registered query's
    * output must be scalar columns only (guarded in `QueriesSpec`).
    */
  def hashingVectorizer(spark: SparkSession, dir: String,
      dim: Int = 16): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(transform(sequence(lit(0), lit(dim - 1)),
          b => size(filter(col("toks"),
            t => conv(substring(md5(t), 1, 1), 16, 10).cast("int")
              === b.cast("int"))).cast("long")), ",").as("vec"))
      .orderBy(col("doc_id"))

  /** BM25 ranked retrieval (q130): top-`topK` documents for a fixed
    * term query under Okapi BM25 (k1 = 1.2, b = 0.75, the Robertson
    * idf with the +1 floor). The relevance layer a corpus-curation
    * stack needs for "find training docs about X" — TF-IDF's (q67)
    * ranked-search sibling with length normalization.
    *
    * 100 TB shape: per-term tf is ROW-LOCAL (an array filter inside
    * the scan — tokens never explode for the query terms, only the
    * |terms|-way struct melt leaves the row). df and (N, avgdl) are
    * tiny aggregates broadcast back; scoring is row-local; the top-k
    * is TakeOrderedAndProject (per-partition heads, no global sort).
    * Rank order is (1e-9 fixed-point score desc, doc_id) so the k
    * boundary is deterministic cross-engine: measured adjacent-score
    * gaps are ≥1.6e-05 while the engines agree to 1e-16.
    */
  def bm25TopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "stream"),
      topK: Int = 15): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    val melted = toks
      .select(col("doc_id"), col("dl"), explode(array(terms.map(t =>
        struct(lit(t).as("term"),
          size(filter(col("toks"), x => x === lit(t))).cast("long")
            .as("tf"))): _*)).as("x"))
      .select(col("doc_id"), col("dl"), col("x.term"), col("x.tf"))
      .filter(col("tf") > 0)
    val docFreq = melted.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    melted.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .orderBy(floor(col("score") * lit(1e9) + lit(0.5)).cast("long").desc,
        col("doc_id"))
      .limit(topK)
      .orderBy(col("doc_id"))
  }

  /** BPE tokenizer training (q131): the first `rounds` merge operations
    * of byte-pair-encoding over the corpus, plus the segmentation the
    * learned merges induce on the `topWords` most frequent words. The
    * reference has no tokenizer; this is the training-pipeline
    * extension (a tokenizer trained on the corpus is the step before
    * every token-count/packing operator in this file).
    *
    * Semantics are classic BPE (Sennrich et al. 2016): work on the
    * word-frequency table; a round counts adjacent symbol pairs
    * weighted by word frequency (overlapping occurrences each count),
    * merges the argmax pair — ties broken (count desc, left asc,
    * right asc) so the model is deterministic — and rewrites every
    * word by greedy LEFTMOST NON-OVERLAPPING application ("aaaa" with
    * merge a+a becomes "aa aa", not "aa a a"). Leftmost application
    * is computed relationally, not sequentially: matches can only
    * overlap inside runs of equal symbols (a match at i and i+1
    * forces left = right), so gaps-and-islands run grouping + odd
    * run-parity selects exactly the pairs a left-to-right scan would
    * take, and a lag() drops each merge's consumed right symbol.
    *
    * 100 TB shape: the ONLY corpus-size-dependent step is the word
    * frequency count (one map-side-combined shuffle of bare words).
    * Every merge round then works on the DISTINCT-WORD symbol table —
    * bounded by vocabulary size, not corpus size, exactly the working
    * set production BPE trainers use — and each round's model is a
    * 1-row driver-held argmax, the same bounded-model contract as the
    * IVF/k-means quantizers. Window partitions are single words
    * (bounded width), never corpus-scale.
    *
    * Output: `('merge', round, left, right, weighted_count)` per
    * round, then `('word', 0, word, segmentation, freq)` for the top
    * words — so any wrong merge, selection, or rewrite changes the
    * hash.
    */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 3,
      topWords: Int = 20): DataFrame = {
    import spark.implicits._
    val (mergeSeq, syms) = bpeCore(spark, dir, rounds)
    val mergeRows = mergeSeq.toDF("r", "a", "b", "n")
      .select(lit("merge").as("kind"), col("r"), col("a"), col("b"),
        col("n"))
    val segs = syms.groupBy(col("w"), col("freq"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
          x => x.getField("sym")), " ").as("seg"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(topWords)
      .select(lit("word").as("kind"), lit(0L).as("r"), col("w").as("a"),
        col("seg").as("b"), col("freq").as("n"))
    mergeRows.unionByName(segs)
      .orderBy(col("kind"), col("r"), col("a"))
  }

  /** BPE vocabulary drift between corpus snapshots (q244): train the
    * q131 merge sequence TWICE — on the historical snapshot (the q174
    * incremental split, doc_id % 10 ≠ 9) and on the full corpus — and
    * diff the learned merge tables rank by rank. This is the tokenizer
    * stability check an incremental pipeline runs before REUSING a
    * trained vocabulary on a grown corpus: if early merges already
    * flip (`same_merge` = 0 at low rank), token boundaries drift and
    * every downstream token budget / fertility table (q134/q152) is
    * stale. Both trainings are driver-bounded models over the
    * vocab-sized symbol table (the q131 shape); the corpus-size cost
    * is two word-frequency counts.
    */
  def bpeVocabDrift(spark: SparkSession, dir: String,
      rounds: Int = 3, batchMod: Int = 10,
      batchRem: Int = 9): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeDriftFromWords(spark,
      wordCountsOf(docs.filter(col("doc_id") % batchMod =!= batchRem)),
      wordCountsOf(docs), rounds)
  }

  /** `(w, freq)` word frequencies of a corpus — the BPE trainer's
    * input grain and the thing that sum-merges across micro-batches.
    */
  private[graft] def wordCountsOf(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalytics.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** The q244 drift assembly off explicit snapshot/full word tables —
    * shared by the batch query and q350's streaming twin (whose full
    * side is the MAINTAINED word-count state): train both, diff the
    * merge tables rank by rank.
    */
  private[graft] def bpeDriftFromWords(spark: SparkSession,
      snapWords: DataFrame, fullWords: DataFrame,
      rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val (snap, _) = bpeCoreFromWords(spark, snapWords, rounds)
    val (full, _) = bpeCoreFromWords(spark, fullWords, rounds)
    (1 to rounds).map { r =>
      val s = snap(r - 1); val f = full(r - 1)
      (r.toLong, s._2, s._3, s._4, f._2, f._3, f._4,
        if (s._2 == f._2 && s._3 == f._3) 1L else 0L)
    }.toDF("r", "snap_a", "snap_b", "snap_cnt",
        "full_a", "full_b", "full_cnt", "same_merge")
      .orderBy(col("r"))
  }

  /** `(w, split, cnt)` word frequencies tagged with the q174/q244
    * corpus split ('snap' = historical, 'batch' = today's crawl) —
    * ONE maintained state grain that drains BOTH the q350 tokenizer
    * drift re-training (full = snap + batch summed per word) and the
    * q352 OOV-pressure report. Sum-merges across micro-batches.
    */
  private[graft] def wordSplitCountsOf(docs: DataFrame,
      batchMod: Int = 10, batchRem: Int = 9): DataFrame =
    docs.select(explode(TextAnalytics.tokens(col("text"))).as("w"),
        when(col("doc_id") % batchMod === batchRem, "batch")
          .otherwise("snap").as("split"))
      .groupBy(col("w"), col("split")).agg(count(lit(1)).as("cnt"))

  /** `(w, split, cnt)` word-3-gram frequencies tagged with the corpus
    * split — q352's maintained grain. GRAM grain, not word grain: the
    * fixture vocabularies fully overlap (word-level OOV is 0 rows —
    * vacuous), while unseen 3-token SEQUENCES are exactly what
    * stresses a trained merge table / n-gram LM (the q94 novelty
    * signal put to tokenizer health).
    */
  private[graft] def gramSplitCountsOf(docs: DataFrame,
      batchMod: Int = 10, batchRem: Int = 9): DataFrame =
    docs.select(
        explode(TextAnalytics.positionalShingles(col("text"), 3)).as("w"),
        when(col("doc_id") % batchMod === batchRem, "batch")
          .otherwise("snap").as("split"))
      .groupBy(col("w"), col("split")).agg(count(lit(1)).as("cnt"))

  /** Sequence-novelty (OOV-pressure) report off a (w, split) count
    * grain (q351/q352): batch 3-gram types ABSENT from the historical
    * snapshot, with their frequencies, plus the batch gram mass / new
    * mass / novelty rate as constant audit columns — the "is the
    * trained tokenizer still adequate for today's crawl" alert (the
    * q244 drift check's cheap daily sibling: re-training is the
    * expensive confirm; this is the trigger).
    */
  private[graft] def oovFromSplitCounts(counts: DataFrame): DataFrame = {
    val batch = counts.filter(col("split") === "batch")
      .select(col("w"), col("cnt").as("freq"))
      // barrier: feeds the anti join, the token mass AND (via the
      // anti join) the OOV mass
      .persist()
    val snapW = counts.filter(col("split") === "snap").select(col("w"))
    val newTypes = batch.join(snapW, Seq("w"), "left_anti").persist()
    val tot = batch.agg(coalesce(sum(col("freq")), lit(0L))
      .as("n_batch_tokens"))
    val oov = newTypes.agg(coalesce(sum(col("freq")), lit(0L))
      .as("oov_tokens"))
    newTypes.crossJoin(tot).crossJoin(oov)
      .select(col("w"), col("freq"), col("n_batch_tokens"),
        col("oov_tokens"),
        (col("oov_tokens").cast("double") /
          col("n_batch_tokens").cast("double")).as("oov_rate"))
      .orderBy(col("freq").desc, col("w"))
  }

  /** Tokenizer OOV pressure, batch form (q351). */
  def oovPressure(spark: SparkSession, dir: String): DataFrame =
    oovFromSplitCounts(gramSplitCountsOf(Tables.documents(spark, dir)))

  /** Shared BPE trainer core: runs the merge rounds and returns the
    * learned merge table plus the final per-word symbol table
    * (w, freq, pos, sym). [[bpeMerges]] reports it; [[bpeTokenize]]
    * joins the corpus against it.
    */
  private def bpeCore(spark: SparkSession, dir: String,
      rounds: Int,
      docFilter: Column = lit(true)): (Seq[(Long, String, String, Long)], DataFrame) =
    bpeCoreFromWords(spark,
      Tables.documents(spark, dir).filter(docFilter)
        .select(explode(TextAnalytics.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq")),
      rounds)

  /** Vocabulary cap for the driver-side BPE fold: at or below this
    * many distinct words the merge rounds run as plain driver
    * arithmetic (the q338 Markov / ANN-codebook precedent — BPE's
    * working set is the vocabulary by construction, and each round's
    * model was ALREADY a driver-held argmax). The probe is
    * `limit(cap+1)` so nothing unbounded ever reaches the driver;
    * wider vocabularies keep the distributed loop.
    */
  private[graft] val BpeDriverCap = 100000

  /** The BPE trainer off an explicit `(w, freq)` word-frequency
    * relation — the q131 training's TRUE input grain, split out
    * because word frequencies SUM-merge across micro-batches: q350's
    * streaming twin maintains exactly this table and re-trains at
    * drain (the corpus text is never rescanned).
    *
    * Dispatch (r19, guide §1.2 step 1): the corpus-size-dependent work
    * is the word-frequency aggregation feeding this function; the
    * merge rounds operate on the DISTINCT-WORD symbol table, whose
    * per-round model (the argmax pair) crossed the driver on every
    * round already. Under [[BpeDriverCap]] words, the rounds fold to
    * driver arithmetic — byte-identical semantics (see
    * [[bpeCoreDriver]]) — replacing 2 jobs + 2 Catalyst plans + an
    * eager localCheckpoint PER ROUND with one collect. Past the cap
    * (or under `SPARK_GRAFT_BPE_DISTRIBUTED=1`, the A/B knob) the
    * distributed loop below runs unchanged.
    */
  private[graft] def bpeCoreFromWords(spark: SparkSession,
      wordsRaw: DataFrame,
      rounds: Int,
      cap: Int = BpeDriverCap): (Seq[(Long, String, String, Long)], DataFrame) = {
    val forceDistributed = sys.env.get("SPARK_GRAFT_BPE_DISTRIBUTED")
      .contains("1")
    if (!forceDistributed) {
      // cap BEFORE anything unbounded reaches the driver; the
      // under-cap collect IS the data (no double compute)
      val probe = wordsRaw.select(col("w"), col("freq"))
        .limit(cap + 1).collect()
      if (probe.length <= cap)
        return bpeCoreDriver(spark,
          probe.map(r => (r.getAs[String]("w"), r.getAs[Long]("freq"))),
          rounds)
    }
    bpeCoreDistributedFromWords(spark, wordsRaw, rounds)
  }

  /** Dispatch observability for the spec: driver folds taken. */
  private[graft] val bpeDriverFolds =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Spark's string `<` is binary over UTF-8 bytes (UTF8String) — the
    * driver fold's tie-break comparator must match it exactly. Java's
    * `String.compareTo` differs for supplementary characters (UTF-16
    * code-unit order), so compare encoded bytes unsigned.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Driver-side BPE merge rounds over a collected vocabulary —
    * identical semantics to the distributed loop, argued piecewise:
    * symbols are CODE POINTS (Spark's `length`/`substr` are
    * code-point-based, so a supplementary character is one symbol on
    * both paths); pair counts sum `freq` over adjacent positions with
    * overlapping occurrences each counting (the lead() spelling);
    * the argmax tie-break is (count desc, left asc, right asc) under
    * [[utf8Compare]] = Spark's binary string order; the rewrite is
    * greedy LEFTMOST NON-OVERLAPPING — literally the sequential scan
    * the distributed run-parity window arithmetic reproduces
    * relationally. `BpeDriverFoldSpec` pins merge-table and
    * symbol-table equality against the distributed loop on the
    * fixture corpus plus adversarial overlapping-run vocabularies.
    */
  private[graft] def bpeCoreDriver(spark: SparkSession,
      rows: Array[(String, Long)],
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    import spark.implicits._
    bpeDriverFolds.incrementAndGet()
    var words: Array[(String, Long, Array[String])] = rows.map {
      case (w, f) =>
        val cps = w.codePoints().toArray
        (w, f, cps.map(cp => new String(Character.toChars(cp))))
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, f, s) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      require(cnt.nonEmpty,
        s"BPE round $r: no adjacent symbol pairs to merge")
      var (ba, bb, bc) = ("", "", Long.MinValue)
      cnt.foreach { case ((ka, kb), v) =>
        if (v > bc || (v == bc && {
          val ca = utf8Compare(ka, ba)
          ca < 0 || (ca == 0 && utf8Compare(kb, bb) < 0)
        })) { ba = ka; bb = kb; bc = v }
      }
      merges += ((r.toLong, ba, bb, bc))
      words = words.map { case (w, f, s) =>
        val out = Array.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i < s.length - 1 && s(i) == ba && s(i + 1) == bb) {
            out += (ba + bb); i += 2
          } else { out += s(i); i += 1 }
        }
        (w, f, out.result())
      }
    }
    val symRows = words.toSeq.flatMap { case (w, f, s) =>
      s.iterator.zipWithIndex.map { case (sym, i) => (w, f, i, sym) }
    }
    (merges.result(), symRows.toDF("w", "freq", "pos", "sym"))
  }

  /** The distributed merge loop — the over-cap fallback and the
    * equivalence baseline for `BpeDriverFoldSpec`.
    */
  private[graft] def bpeCoreDistributedFromWords(spark: SparkSession,
      wordsRaw: DataFrame,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // persist the vocab: it is the bounded working set every round's
    // driver-side argmax action re-reads — without it each of the
    // `rounds` actions re-runs the corpus-wide word count
    val words = wordsRaw.persist()
    var syms = words
      .select(col("w"), col("freq"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("pos"))
      .withColumn("sym", col("w").substr(col("pos") + lit(1), lit(1)))
    val wWin = Window.partitionBy("w").orderBy("pos")
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    // Eager localCheckpoint per round, superseded blocks freed in-loop
    // (the q66 CC discipline): without lineage truncation every
    // round's ARGMAX ACTION re-analyzes an r-deep window chain —
    // measured as ~1 s of pure driver planning per round at any data
    // size — and the checkpoint keeps each round's plan depth O(1).
    val sc = spark.sparkContext
    def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def freeIds(ids: Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id)
        .foreach(rdd => try rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }))
    var prevCkpt = Set.empty[Int]
    for (r <- 1 to rounds) {
      val withNext = syms
        .withColumn("nxt", lead(col("sym"), 1).over(wWin))
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc)
        .limit(1).collect()(0)
      val (a, b, cnt) =
        (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, a, b, cnt))
      // greedy leftmost selection with ONE window spec: every frame
      // below partitions by w and orders by pos, so Catalyst plans a
      // single exchange+sort per round (the (w,ispair)/(w,runid)
      // gaps-and-islands spelling would add two more exchanges for
      // the same relational result). Within a run of consecutive
      // matches, the carried-forward run-start position gives the
      // even-offset (= leftmost non-overlapping) positions directly.
      val runWin = wWin.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      syms = withNext
        .withColumn("ispair",
          col("nxt").isNotNull &&
            col("sym") === lit(a) && col("nxt") === lit(b))
        .withColumn("boundary", col("ispair") &&
          !coalesce(lag(col("ispair"), 1).over(wWin), lit(false)))
        .withColumn("run_start",
          last(when(col("boundary"), col("pos")), ignoreNulls = true)
            .over(runWin))
        .withColumn("sel",
          col("ispair") && (col("pos") - col("run_start")) % 2 === 0)
        .withColumn("prevsel",
          coalesce(lag(col("sel"), 1).over(wWin), lit(false)))
        .filter(!col("prevsel"))
        .withColumn("merged",
          when(col("sel"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")))
        .select(col("w"), col("freq"),
          (row_number().over(wWin) - 1).as("pos"),
          col("merged").as("sym"))
      val before = persistedIds
      syms = syms.localCheckpoint(true)
      val thisRound = persistedIds -- before
      freeIds(prevCkpt)
      prevCkpt = thisRound
    }
    words.unpersist(false)
    (merges.result(), syms)
  }

  /** BPE tokenizer APPLICATION (q134): tokenize the whole corpus with
    * the q131-trained merges. The scalable trick is that BPE
    * segmentation is a pure function of the word, so the corpus is
    * never rewritten symbol-by-symbol: the trainer's final per-word
    * symbol table collapses to a (word → token count) map, and corpus
    * tokenization is one join of exploded corpus words against that
    * bounded vocab table — the train→apply composition, like
    * k-means→SemDeDup (q124→q125).
    *
    * 100 TB shape: corpus side is explode + join on the word key
    * against a vocabulary-bounded build side (broadcastable at
    * realistic vocab sizes) + one map-side-combined per-doc sum.
    * All-integer output, exact cross-engine.
    */
  /** Temperature-scaled source mixing (q135): resample the corpus so
    * language shares follow p_l ∝ n_l^α — the multilingual mixing
    * rule (upweight low-resource languages) every multilingual LLM
    * pipeline applies. α = 0.5 deliberately: sqrt is IEEE
    * correctly-rounded, so with the share denominator folded in
    * pinned lang order every double here is bit-identical
    * cross-engine and the floor'd quotas are exact — no pow()
    * last-ulp hazard.
    *
    * Selection is deterministic hash ranking (md5 of the doc id,
    * doc_id tiebreak) within each language, so the sample is stable
    * under reruns, partitioning, and engine — the q68 stratified-
    * sampling contract with corpus-derived quotas.
    *
    * 100 TB shape: the per-language model is a driver-held
    * #languages-row table (bounded); the corpus side is one scan +
    * one window rank per language partition + a broadcast quota
    * join. No corpus-size state anywhere.
    */
  def temperatureMix(spark: SparkSession, dir: String,
      target: Int = 250): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang")).collect()
    val shares = counts.map(r =>
      r.getString(0) -> math.sqrt(r.getLong(1).toDouble))
    val total = shares.map(_._2).sum // left fold in lang order
    val quotas = shares.toSeq.map { case (l, v) =>
      l -> math.floor(target.toDouble * v / total).toLong }
    val qdf = quotas.toDF("lang", "quota")
    docs
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("hk",
        md5(concat(lit("mix|"), col("doc_id").cast("string"))
          .cast("binary")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("hk"), col("doc_id"))).cast("long"))
      .join(broadcast(qdf), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("source"), col("rk"))
      .orderBy(col("doc_id"))
  }

  /** Blocklist safety filter (q164): exact-token blocklist screening —
    * per document, total and distinct blocklist-token occurrences and
    * the keep/flag decision (flag at ≥ `maxHits` total hits; one hit
    * of ordinary terms passes, the C4-style "bad-word count with
    * tolerance" rule). PII redaction (q82) rewrites; this GATES — the
    * two halves of the safety pass every published pipeline runs. The
    * blocklist is a broadcast literal set and matching is a row-local
    * HOF filter, so the whole screen adds zero exchanges beyond the
    * presentation sort.
    */
  def blocklistFilter(spark: SparkSession, dir: String,
      blocklist: Seq[String] = Seq("error", "null", "lorem"),
      maxHits: Int = 2): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalytics.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        size(filter(col("toks"),
          t => blocklist.map(b => t === lit(b)).reduce(_ || _)))
          .cast("long").as("n_hits"),
        size(array_intersect(array_distinct(col("toks")),
          array(blocklist.map(lit): _*))).cast("long").as("n_distinct"))
      .withColumn("flagged",
        when(col("n_hits") >= maxHits, 1L).otherwise(0L))
      .orderBy(col("doc_id"))

  /** Training-mix manifest (q162): the dataset-card table for the q136
    * split — per (split, lang): documents, whitespace tokens, and each
    * language's document/token share WITHIN its split. The first thing
    * a reviewer checks before a run: does val/test language composition
    * match train (a skewed share here invalidates held-out comparisons
    * like q140/q159 across languages). All exact-count ratios — no
    * sampling, no FP folds beyond the final divisions.
    *
    * 100 TB shape: one scan, row-local split/token computation, one
    * low-cardinality aggregate + a split-total window.
    */
  def mixManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySplit = Window.partitionBy(col("split"))
    Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .select(col("split"), col("lang"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("doc_share", col("n_docs").cast("double") /
        sum(col("n_docs")).over(bySplit).cast("double"))
      .withColumn("token_share", col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(bySplit).cast("double"))
      .orderBy(col("split"), col("lang"))
  }

  /** Deterministic train/val/test split with leakage guard (q136).
    * Assignment hashes the DOC ID (md5 first byte: <204 train ≈ 80 %,
    * <230 val ≈ 10 %, else test) so the split is stable under reruns,
    * partitioning, and engine — never random(). The leakage guard
    * then flags any val/test document whose exact CONTENT hash also
    * appears in train (the eval-contamination check run before every
    * training job; q80 is the n-gram version, this is the exact-dup
    * version aligned with q28's content hashing).
    *
    * 100 TB shape: assignment is row-local; the guard is one
    * left-semi hash join of val/test content hashes against train
    * hashes (both sides narrow md5 columns). No driver state.
    */
  /** The q136 deterministic split rule as a column: md5 first byte of
    * "split|<doc_id>" mapped 80/10/10. Shared by [[datasetSplit]] and
    * the held-out scorer [[heldoutPerplexity]] so "train" always means
    * the same rows.
    */
  private[graft] def splitCol(docIdName: String): Column = {
    val hk = s"md5(cast(concat('split|', cast($docIdName as string)) " +
      "as binary))"
    val b = expr(
      s"(instr('0123456789abcdef', substring($hk, 1, 1)) - 1) * 16 + " +
        s"instr('0123456789abcdef', substring($hk, 2, 1)) - 1")
    when(b < 204, "train").when(b < 230, "val").otherwise("test")
  }

  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val assigned = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("content_hash"))
      .withColumn("split", splitCol("doc_id"))
    val trainHashes = assigned.filter(col("split") === "train")
      .select(col("content_hash").as("th")).distinct()
    assigned
      .join(trainHashes, col("content_hash") === col("th"), "left")
      .select(col("doc_id"), col("split"),
        (col("split") =!= "train" && col("th").isNotNull).as("leaked"))
      .orderBy(col("doc_id"))
  }

  /** Split-leakage n-gram audit (q153): for each held-out split of the
    * q136 assignment, the fraction of its DISTINCT 3-shingles that
    * also occur anywhere in train — the n-gram contamination statistic
    * (q80's decontamination measure) applied split-wise, i.e. the
    * audit a team runs on its OWN split before trusting held-out
    * perplexity (q140 trains on exactly this split rule). Exact-dup
    * leakage (q136's flag) is the limit case; n-gram overlap catches
    * the near-dup leakage that content hashes miss.
    *
    * 100 TB shape: grams leave the scan as 64-bit md5 prefixes — the
    * engine-wide "hashes shuffle, never text" discipline (q101/q146/
    * q155); a 16-hex-char key is oracle-expressible where xxhash64 is
    * not, and a collision is deterministic and identical cross-engine,
    * so the overlap counts still hash-match. (split, hash) pairs
    * deduplicate map-side before the exchange; the train side is a
    * narrow distinct-hash relation; one left join + per-split
    * aggregate. Nothing driver-side.
    */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .select(col("split"),
        explode(TextAnalytics.shingles(col("text"), 3)).as("gt"))
      .select(col("split"),
        substring(md5(col("gt").cast("binary")), 1, 16).as("g"))
      .distinct()
      .persist()
    val train = grams.filter(col("split") === "train")
      .select(col("g").as("tg"))
    grams.filter(col("split") =!= "train")
      .join(train, col("g") === col("tg"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("tg").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("split"))
  }

  /** Per-source curation report (q155): the domain-level decision
    * table — for each `source` (the stand-in for a crawl domain),
    * volume, exact-duplicate rate (q28's first-occurrence rule on the
    * content hash, computed CORPUS-wide so cross-source copies count
    * against the later source), language spread and mean length. This
    * is the table a curation run reads to decide per-domain keep
    * rates before any expensive near-dup pass.
    *
    * 100 TB shape: one scan; the dup flag is a min-doc_id-per-hash
    * aggregate joined back on the narrow hash column; everything else
    * is a per-source aggregate. No text shuffles (hashes only).
    */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"))
    val firstSeen = docs.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_id"))
    docs.join(firstSeen, Seq("h"))
      .withColumn("is_dup",
        when(col("doc_id") =!= col("first_id"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dups"),
        (sum(col("is_dup")).cast("double") /
          count(lit(1)).cast("double")).as("dup_ratio"),
        countDistinct(col("lang")).as("n_langs"),
        (sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double")).as("avg_chars"))
      .orderBy(col("source"))
  }

  /** Positional phrase search (q137): exact-adjacency phrase matching
    * over positional posting lists — the inverted-index operation BM25
    * (q130) ranking sits on top of in a full-text stack.
    *
    * 100 TB shape: the posting lists for the QUERY TERMS ONLY leave
    * the scan (the term filter applies inside the explode projection,
    * so non-query tokens never reach an exchange); adjacency is an
    * equi-join on (doc, position+1) between two narrow (doc_id, pos)
    * relations, then one map-side-combined per-doc count.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      first: String = "table", second: String = "scan"): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextAnalytics.tokens(col("text")))
          .as(Seq("pos", "term")))
    val t1 = toks.filter(col("term") === first)
      .select(col("doc_id"), col("pos"))
    val t2 = toks.filter(col("term") === second)
      .select(col("doc_id").as("d2"), col("pos").as("pos2"))
    t1.join(t2, col("doc_id") === col("d2") &&
        col("pos2") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Skip-gram co-occurrence PMI (q138): unordered token pairs within
    * a ±`window` context window, scored by pointwise mutual
    * information — the counting step word2vec/SGNS and GloVe start
    * from, and a corpus-statistics signal in its own right.
    *
    * Exactness: all counts are integers; the PMI operand products
    * stay far below 2^53 so the single ln() argument is bit-identical
    * cross-engine (the q79/q129 ln contract). The top-k ranks on the
    * INTEGER count (ties to the word pair), so the selected set has
    * no FP boundary.
    *
    * 100 TB shape: pair generation is ROW-LOCAL (zip_with over the
    * token array against its own 1- and 2-shifted slices — tokens
    * never self-join); one map-side-combined count per pair; unigram
    * and total models are vocab-bounded broadcasts.
    */
  def cooccurrencePmi(spark: SparkSession, dir: String,
      topK: Int = 30): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(TextAnalytics.tokens(col("text")).as("t"))
    val n = size(col("t"))
    def offsetPairs(k: Int) = zip_with(
      slice(col("t"), lit(1), greatest(n - k, lit(0))),
      slice(col("t"), lit(k + 1), greatest(n - k, lit(0))),
      (x, y) => struct(least(x, y).as("w1"), greatest(x, y).as("w2")))
    val pairCounts = base
      .select(explode(flatten(array(offsetPairs(1), offsetPairs(2))))
        .as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = base.agg(sum(n.cast("long")).as("n"))
    val nPair = pairCounts.agg(sum(col("c_ab")).as("p"))
    pairCounts
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))),
        Seq("w2"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nPair))
      .select(col("w1"), col("w2"), col("c_ab"),
        log((col("c_ab").cast("double") * col("n") * col("n")) /
          (col("p") * col("c1") * col("c2"))).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  /** Per-source corpus report card (q139): the dataset-card panel a
    * curation pipeline publishes with a release — volume (docs /
    * chars / tokens), language spread (count + Shannon entropy), and
    * exact-duplicate ratio, one row per source.
    *
    * Determinism: counts are exact integers; the entropy fold runs
    * over the per-source language counts in PINNED lang order
    * (array_sort + HOF aggregate from 0.0 — the q135 ordered-fold
    * contract), so the FP sum is bit-identical cross-engine.
    *
    * 100 TB shape: one scan feeding two map-side-combined aggregates
    * (per-source and per-source×lang — the second is
    * #sources×#languages rows, tiny); no window, no driver state.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("tc"),
        md5(col("text").cast("binary")).as("h"))
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("tc")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("h")).as("n_distinct"))
    val langCounts = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(array_sort(collect_list(struct(col("lang"), col("c"))))
        .as("lc"))
    base.join(langCounts, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("n_tokens"), col("n_langs"),
        aggregate(col("lc"), lit(0.0), (acc, x) =>
          acc - (x.getField("c").cast("double") /
            col("n_docs").cast("double")) *
            log(x.getField("c").cast("double") /
              col("n_docs").cast("double"))).as("lang_entropy"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double")).as("dup_ratio"))
      .orderBy(col("source"))
  }

  /** Held-out perplexity scoring (q140): an add-one-smoothed bigram LM
    * trained on q136's TRAIN split only, scoring the VAL/TEST docs —
    * the leakage-free quality-filter composition (q129's model math ×
    * q136's split rule). Unseen bigrams smooth to ln(1/(c1+V));
    * unseen prefixes to ln(1/V) — the add-one limits, via COALESCE(0)
    * on the model joins.
    *
    * 100 TB shape: identical to q129 (model = two map-side-combined
    * aggs over the train side, V a 1-row broadcast) plus the
    * row-local split predicate — no extra shuffles over q129.
    */
  def heldoutPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .select(col("doc_id"), col("split"),
        TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .persist()
    // row-local bigram extraction — the q129 idiom
    val bigrams = docs
      .select(col("doc_id"), col("split"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("split"), col("b.w1"), col("b.w2"))
    val train = bigrams.filter(col("split") === "train")
    val c2 = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = docs.filter(col("split") === "train")
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val held = bigrams.filter(col("split") =!= "train")
      .groupBy(col("doc_id"), col("split"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    // no broadcast hint on the model sides: a real bigram model can
    // exceed broadcast size; AQE converts when runtime-small (q129)
    held
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w1"), col("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"), col("split"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        (sum(col("cnt").cast("double") *
          log((coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
            (coalesce(col("c1"), lit(0L)).cast("double") +
              col("v").cast("double")))) /
          sum(col("cnt")).cast("double")).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Per-source language-drift report (q158): KL(source ‖ corpus) over
    * unigram distributions — for each source, Σ_t p(t|s)·ln(p(t|s)/p(t))
    * plus its token volume and distinct-term count. The drift score a
    * curation run uses to spot domains whose language diverges from
    * the corpus (boilerplate farms, non-prose dumps) before any
    * per-document scoring. KL against the corpus mixture is always
    * ≥ 0 and finite (every source term occurs in the corpus by
    * construction), so no smoothing is needed — the statistic is
    * exact.
    *
    * 100 TB shape: one explode → (source, term) count; corpus
    * marginals are a second aggregate of the same relation; one join
    * on term and a per-source sum. Counts shuffle, text never does
    * twice.
    */
  def sourceKlDrift(spark: SparkSession, dir: String): DataFrame =
    klFromCounts(tokenCountsOf(Tables.documents(spark, dir)))

  /** The mergeable half of the KL audit: per-(source, term) exact
    * token counts. Sum-merge is associative+commutative, so q270's
    * streaming twin keeps this relation as ledger state and folds each
    * batch's partial in — the drained KL equals the from-scratch one
    * for ANY micro-batching.
    */
  private[graft] def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(TextAnalytics.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** Finish counts → per-source KL(source ‖ corpus) — shared by the
    * batch audit and q270's streaming drain. Each `ps·log(ps/pc)` term
    * is summed as `DECIMAL(38,18)`, which adds exactly, so `kl` is the
    * same double whatever order the terms arrive in (a double sum is
    * not, and flips in the last bits from run to run).
    */
  private[graft] def klFromCounts(countsRaw: DataFrame): DataFrame = {
    val counts = countsRaw.persist()
    val srcTotals = counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("s_total"))
    val corpus = counts.groupBy(col("term"))
      .agg(sum(col("cnt")).as("c_cnt"))
    val corpusTotal = corpus.agg(sum(col("c_cnt")).as("c_total"))
    counts
      .join(srcTotals, Seq("source"))
      .join(corpus, Seq("term"))
      .crossJoin(broadcast(corpusTotal))
      .withColumn("ps", col("cnt").cast("double") /
        col("s_total").cast("double"))
      .withColumn("pc", col("c_cnt").cast("double") /
        col("c_total").cast("double"))
      .groupBy(col("source"))
      .agg(sum((col("ps") * log(col("ps") / col("pc")))
          .cast("decimal(38,18)")).cast("double").as("kl"),
        max(col("s_total")).as("n_tokens"),
        count(lit(1)).as("n_terms"))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("kl"))
      .orderBy(col("source"))
  }

  /** CCNet-style perplexity bucketing (q156): every document scored by
    * the TRAIN-split bigram LM (q140's model, including train docs —
    * the filter runs corpus-wide), then split into head/middle/tail by
    * RANK terciles over (fixed-point avg_logprob desc, doc_id) —
    * highest-likelihood third is "head", the CCNet keep set. Rank
    * cutpoints, not interpolated quantiles: `3·rk ≤ n` is integer
    * arithmetic both engines replay exactly, where quantile
    * interpolation formulas differ.
    *
    * 100 TB shape: scoring is q129/q140's model join (no new
    * shuffles). The exact global rank here is one total sort; the
    * production form at scale is the q110 two-pass pattern — find the
    * two cutpoint SCORES via approx-percentile, then bucket row-local
    * — which changes only the cutpoint discovery, not the labels'
    * meaning.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .select(col("doc_id"), col("split"),
        TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .persist()
    val bigrams = docs
      .select(col("doc_id"), col("split"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("split"), col("b.w1"), col("b.w2"))
    val train = bigrams.filter(col("split") === "train")
    val c2 = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = docs.filter(col("split") === "train")
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = bigrams
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w1"), col("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        (sum(col("cnt").cast("double") *
          log((coalesce(col("c2"), lit(0L)).cast("double") + 1.0) /
            (coalesce(col("c1"), lit(0L)).cast("double") +
              col("v").cast("double")))) /
          sum(col("cnt")).cast("double")).as("avg_logprob"))
    val ranked = scored
      .withColumn("rk", row_number().over(Window.orderBy(
        floor(col("avg_logprob") * lit(1e9) + lit(0.5)).cast("long").desc,
        col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    ranked
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"),
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Trigram stupid-backoff scoring (q159): the q140 composition one
    * order up — a trigram LM trained on the q136 TRAIN split scores
    * the held-out documents with Brants-style stupid backoff:
    * ln(c₁₂₃/c₁₂) when the trigram is known, else ln(0.4·c₂₃/c₂) from
    * the bigram, else the add-one unigram floor
    * ln(0.4·0.4·(c₃+1)/(N+V)) — always finite, no normalization pass
    * (the "stupid" in the name is what makes it the LM that actually
    * ships at corpus scale). Backoff literals are spelled `0.4 * 0.4`
    * so both engines do the same IEEE multiply.
    *
    * 100 TB shape: q140's model-join pattern with one extra order —
    * counts shuffle on (w1,w2,w3)/(w2,w3)/unigram keys, the scored
    * side is per-doc distinct trigrams, AQE broadcasts model sides
    * when runtime-small.
    */
  def trigramBackoffScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("split", splitCol("doc_id"))
      .select(col("doc_id"), col("split"),
        TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .persist()
    val trigrams = docs
      .select(col("doc_id"), col("split"), explode(
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"),
            element_at(col("toks"), i + 2).as("w3")))).as("t"))
      .select(col("doc_id"), col("split"),
        col("t.w1"), col("t.w2"), col("t.w3"))
    val trainToks = docs.filter(col("split") === "train")
      .select(explode(col("toks")).as("tok"))
    val c3g = trigrams.filter(col("split") === "train")
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
    // context/bigram/unigram counts over ALL train positions (not just
    // trigram prefixes) — the standard backoff denominators
    val bi = docs.filter(col("split") === "train")
      .select(explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("wa"),
            element_at(col("toks"), i + 1).as("wb")))).as("b"))
      .select(col("b.wa"), col("b.wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cb"))
      .persist()
    val uni = trainToks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .persist()
    val nv = trainToks.agg(count(lit(1)).as("n"),
      countDistinct(col("tok")).as("v"))
    val held = trigrams.filter(col("split") =!= "train")
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt"))
    held
      .join(c3g, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("wa").as("w1"), col("wb").as("w2"),
        col("cb").as("c12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("wa").as("w2"), col("wb").as("w3"),
        col("cb").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("tok").as("w2"), col("cu").as("c2")),
        Seq("w2"), "left")
      .join(uni.select(col("tok").as("w3"), col("cu").as("c3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("lp",
        when(col("c123").isNotNull,
          log(col("c123").cast("double") / col("c12").cast("double")))
          .when(col("c23").isNotNull,
            log(lit(0.4) * col("c23").cast("double") /
              col("c2").cast("double")))
          .otherwise(log(lit(0.4) * lit(0.4) *
            (coalesce(col("c3"), lit(0L)).cast("double") + 1.0) /
            (col("n").cast("double") + col("v").cast("double")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_trigrams"),
        (sum(col("cnt").cast("double") * col("lp")) /
          sum(col("cnt")).cast("double")).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Curation funnel report (q141): the per-stage survival table every
    * published pipeline ships — documents and tokens remaining after
    * each curation stage (raw → exact dedup keepers → token-length
    * quality gate), so reviewers see exactly where volume went.
    *
    * 100 TB shape: stages are cumulative row-local predicates over
    * one scan (the dedup keeper flag is a min-over-content-hash
    * window); the report is three map-side-combined aggregate rows.
    */
  def curationFunnel(spark: SparkSession, dir: String,
      minTok: Int = 30, maxTok: Int = 90): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("tc"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("keeper",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("h")))
      .withColumn("quality",
        col("tc") >= minTok && col("tc") <= maxTok)
    // shared staged-retention core with q226 (r10 verdict #6): q141 is
    // the row-local 3-stage core, q226 the superset riding the q95
    // near-dup chain — ONE aggregation path, two surfaces
    stagedFunnel(Seq(
        (0L, "s0_raw", d),
        (1L, "s1_exact_dedup", d.filter(col("keeper"))),
        (2L, "s2_quality", d.filter(col("keeper") && col("quality")))))
      .select(col("stage"), col("n_docs"), col("n_tokens"))
      .orderBy(col("stage"))
  }

  /** Per-stage (stage_id, stage, n_docs, n_tokens) aggregate rows over
    * pre-filtered stage frames each carrying a `tc` token count — the
    * single code path behind both curation funnels (q141/q226). Each
    * stage is one map-side-combined aggregate; at 100 TB the stages
    * share one scan via the caller's persisted base projection.
    */
  private def stagedFunnel(stages: Seq[(Long, String, DataFrame)]): DataFrame =
    stages.map { case (id, name, df) =>
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("tc")), lit(0L)).as("n_tokens"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    }.reduce(_.unionByName(_))

  /** Cross-source overlap matrix (q145): for every source pair, the
    * number of shared distinct word-3-gram fingerprints and the
    * Jaccard overlap — the pairwise generalization of q80's
    * train-vs-eval decontamination screen, the report that decides
    * which sources double-count against each other.
    *
    * 100 TB shape: grams leave the scan as md5 HASHES (row-local HOF,
    * the q94 discipline — no raw text crosses an exchange); per-source
    * distinct is one shuffle on (source, hash); the pair join is
    * hash-keyed with per-source totals broadcast for the Jaccard
    * denominator. Output is #sources²/2 rows.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("source"), TextAnalytics.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("t")) - 2),
          i => md5(concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2))
            .cast("binary"))).as("h")))
      .distinct()
    val totals = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val shared = grams.select(col("source").as("src_a"), col("h"))
      .join(grams.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        (col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"))
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def bpeTokenize(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    val (_, syms) = bpeCore(spark, dir, rounds)
    val vocab = syms.groupBy(col("w"))
      .agg(count(lit(1)).as("n_syms"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_tokens"))
      .withColumn("tokens_per_word",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility report (q152): per-language compression stats
    * of the TRAINED q131 BPE — words, characters, BPE tokens, and the
    * two ratios every tokenizer eval publishes (tokens/word fertility
    * and chars/token compression). A multilingual mix is budgeted in
    * TOKENS, so a language with high fertility silently eats budget —
    * this is the table that catches it (the q135 temperature mix's
    * natural companion). Same 100 TB shape as q134: the trained vocab
    * is a bounded broadcast artifact; the corpus pass is one
    * explode→join→per-lang aggregate.
    */
  def tokenizerFertility(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    val (_, syms) = bpeCore(spark, dir, rounds)
    val vocab = syms.groupBy(col("w"))
      .agg(count(lit(1)).as("n_syms"))
    Tables.documents(spark, dir)
      .select(col("lang"),
        explode(TextAnalytics.tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_syms")).as("n_tokens"))
      .withColumn("tokens_per_word",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("lang"))
  }

  /** Packed-sequence audit (q178): GPT-style concat-and-chop — each
    * shard's documents are concatenated in the q101 manifest order
    * (md5 hash-shuffled, so packing order is deterministic and
    * uncorrelated with crawl order) and the token stream is chopped
    * into fixed `seqLen`-token training sequences, documents SPANNING
    * sequence boundaries. Per sequence: how many documents contribute
    * tokens, how many START inside it (the attention-reset points a
    * packed-pretraining loader needs), and its exact fill (every
    * sequence is full but each shard's last). Complementary to q84's
    * [[sequencePacking]], which keeps documents whole and reports
    * which docs land in which variable-fill pack; this is the
    * fixed-length view with the boundary-crossing accounting.
    *
    * 100 TB shape: the cumulative offset is a per-SHARD window (the
    * shard is the parallel unit — production widens `substring(hk,1,1)`
    * to two hex chars for 256-way parallelism; the arithmetic is
    * unchanged), the doc→sequence explode emits ~n_tokens/seqLen + 1
    * rows per doc, and the per-sequence rollup is a map-side-combined
    * aggregate on (shard, seq_id). No token text ever leaves the scan —
    * only counts.
    */
  def packedSequences(spark: SparkSession, dir: String,
      seqLen: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("shard"))
      .orderBy(col("hk"), col("doc_id"))
    val L = lit(seqLen.toLong)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
      .withColumn("shard", substring(col("hk"), 1, 1))
      .withColumn("off", coalesce(sum(col("n_tokens")).over(
        byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("n_tokens") > 0)
    val totals = base.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
    base
      .withColumn("first_seq", floor(col("off") / L))
      .withColumn("last_seq",
        floor((col("off") + col("n_tokens") - 1) / L))
      .select(col("shard"), col("first_seq"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_seq") === col("seq_id"), 1L).otherwise(0L))
          .as("n_starts"))
      .join(totals, "shard")
      .select(col("shard"), col("seq_id"), col("n_docs"), col("n_starts"),
        least(L, col("shard_tokens") - col("seq_id") * L).as("n_tokens"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** RAG-style overlapping chunking (q179): every document is split
    * into `chunk`-token windows at `stride`-token steps (the standard
    * retrieval-index unit: overlap preserves sentence context across
    * chunk boundaries). Each chunk row carries its exact start, length,
    * and an md5 content digest — the id a downstream embedding/indexing
    * stage keys on — so the whole explode is hash-checked cross-engine.
    *
    * 100 TB shape: entirely row-local — `sequence`/`slice`/`md5` run as
    * HOFs inside the scan projection; chunk TEXT never materializes
    * beyond the md5 (the digest, start, length triple is what shuffles
    * to the presentation sort). Output is ~n/stride rows per doc.
    */
  def docChunking(spark: SparkSession, dir: String,
      chunk: Int = 20, stride: Int = 10): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride.toLong)))
          .as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        col("start"),
        least(lit(chunk.toLong), col("n") - col("start"))
          .as("n_chunk_tokens"),
        md5(array_join(slice(col("toks"), (col("start") + 1).cast("int"),
          least(lit(chunk.toLong), col("n") - col("start")).cast("int")),
          " ").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Training-mix cube (q188): docs and token mass at EVERY grouping
    * level of (source, lang) in one pass — per cell, per source, per
    * lang, and the grand total, distinguished by the grouping id — the
    * multi-level dataset-card table q162 (fixed (split, lang) grain)
    * special-cases. `CUBE` is the grouping-sets surface SURVEY §7's
    * extension list names; aggregated-away keys render as `(all)` so
    * the cross-engine compare never touches NULL-ordering semantics.
    *
    * 100 TB shape: Spark expands the cube map-side (one scan, 4×
    * partial aggregates, all map-side combined on low-cardinality
    * keys); no extra pass per level.
    */
  def mixCube(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("nt"))
      .cube(col("source"), col("lang"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(col("gid"),
        coalesce(col("source"), lit("(all)")).as("source"),
        coalesce(col("lang"), lit("(all)")).as("lang"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("gid"), col("source"), col("lang"))

  /** Zipf fit (q190): least-squares slope of ln(frequency) against
    * ln(rank) over the corpus vocabulary, with intercept and R² — the
    * canonical corpus-naturalness check (natural language sits near
    * slope −1; template floods and vocabulary collapse bend it). The
    * regression is three closed-form moments computed in ONE aggregate
    * over the ranked vocab, so the whole fit is distributed arithmetic,
    * no iterative solver.
    *
    * 100 TB shape: vocab relation + the q172 ranking window (over
    * TYPES, not tokens); the moment aggregate is map-side combined and
    * the output is one row. Formula spelled identically in the oracle
    * so only SUM accumulation order differs (orders below the 1e-9
    * comparator).
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFromTf(tokenTfOf(Tables.documents(spark, dir)))

  /** The q190 finish off the term-frequency grain — shared by the
    * batch fit and q311's streaming drain.
    */
  private[graft] def zipfFromTf(tfRaw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val xy = tfRaw.select(col("token"), col("cnt").as("tf"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("tf").desc, col("token"))).cast("long"))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
    val s = xy.agg(count(lit(1)).as("n_types"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n_types").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = n * col("sxx") - col("sx") * col("sx")
    val deny = n * col("syy") - col("sy") * col("sy")
    s.select(col("n_types"),
      (num / den).as("slope"),
      ((col("sy") - (num / den) * col("sx")) / n).as("intercept"),
      ((num * num) / (den * deny)).as("r2"))
  }

  /** Per-source weighted sample (q199): the q147 Efraimidis–Spirakis
    * exponential-key draw run PER SOURCE — k docs from every source,
    * probability proportional to length — the stratified form a mix
    * builder actually issues (q147 draws globally; q135's temperature
    * quotas draw uniformly within language). Same md5 KDF, same
    * fixed-point rank discipline; the only change is the window
    * partition.
    *
    * 100 TB shape: one scan; the per-source top-k is a windowed
    * row_number over (source)-partitioned sorts — k×|sources| output,
    * no global ordering anywhere.
    */
  def groupedWeightedSample(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("gws|"),
      col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("double")
    val u = (h + lit(0.5)) / lit(math.pow(2.0, 48))
    val esRank = floor(col("es_key") * lit(1e9) + lit(0.5)).cast("long")
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("es_key"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(esRank.desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
        col("es_key"))
      .orderBy(col("source"), col("rk"))
  }

  /** Exact per-source decile table (q200): length-distribution
    * quantiles computed EXACTLY by rank arithmetic (value at rank
    * ⌈q·n⌉ per source) — the deterministic counterpart to q81's
    * mergeable sketch, and the per-source planning table behind
    * length bucketing/curriculum decisions. Every cell is an observed
    * value selected by integer rank, so the whole table hash-matches
    * cross-engine with no tolerance at all.
    *
    * 100 TB shape (the r9 verdict's histogram fold, now the
    * implementation, not a comment): the corpus scan collapses to the
    * per-(source, length) HISTOGRAM first — one map-side-combined
    * aggregate — and the rank selection walks the histogram's
    * cumulative counts. The only window runs over histogram rows
    * (value domain ≪ corpus, distinct lengths per source), so a
    * 40%-of-corpus source costs a few thousand window rows instead of
    * a single-task sort of its entire doc grain. Lengths are bounded
    * integers, so the fold is EXACT: rank r's value is the histogram
    * row whose cumulative range covers r — byte-identical to the
    * row-rank form, same oracle.
    */
  def sourceDeciles(spark: SparkSession, dir: String): DataFrame =
    decilesOf(Tables.documents(spark, dir))
      .orderBy(col("source"), col("decile"))

  /** Exact per-source deciles of `n_chars` over any doc relation —
    * value-histogram form (group to distinct values, cumulate, select
    * the value covering rank ceil(d·n/10)), so the heavy input never
    * carries a per-row rank. Shared by q200 (full corpus) and q258
    * (deterministic sample vs full, the sketch-trust audit).
    */
  private def decilesOf(docs: DataFrame): DataFrame =
    decilesOfHist(docs
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt")))

  /** Decile selection over a pre-built (source, n_chars, cnt) value
    * histogram — the histogram is the mergeable sufficient statistic
    * (cnt sum-merges across batches), so q263's streaming twin
    * maintains it as ledger state and drains through this exact
    * arithmetic to q200's oracle verbatim.
    */
  private[graft] def decilesOfHist(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(bySrc.orderBy(col("n_chars"))))
      .withColumn("n", sum(col("cnt")).over(bySrc))
    val decs = explode(array((1 to 9).map(d => lit(d.toLong)): _*))
    cum.select(col("source"), col("n_chars"), col("cnt"), col("cum"),
        col("n"), decs.as("decile"))
      .withColumn("r", ceil(col("decile").cast("double") *
        col("n").cast("double") / lit(10.0)).cast("long"))
      .filter(col("r") > col("cum") - col("cnt") && col("r") <= col("cum"))
      .select(col("source"), col("decile"), col("n_chars").as("value"),
        col("n").as("n_docs"))
  }

  /** Sampled-decile audit (q258): per-source deciles from a
    * deterministic 25% sample (docs whose first md5('sq|'||doc_id)
    * byte < 64 — the q147 KDF discipline, so both engines draw the
    * SAME sample) side by side with the exact deciles, plus the
    * per-decile absolute error. This is the decision table for the
    * 100 TB quantile path: exact deciles cost a full per-source
    * histogram of the corpus; the sampled curve costs 1/4 of the scan
    * and the audit says — per source, per decile — what that buys and
    * what it loses. A source whose sample went empty keeps its exact
    * rows with null sampled values (LEFT join): the failure mode the
    * audit exists to surface, not drop.
    *
    * 100 TB shape: the sample predicate is a scan-level filter (no
    * shuffle before it); both decile chains are value-histogram folds
    * (distinct n_chars values, not rows); the final join is deciles ×
    * sources — metadata-scale.
    */
  def sampledDecileAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sampled = docs.filter(
      conv(substring(md5(concat(lit("sq|"),
        col("doc_id").cast("string")).cast("binary")), 1, 2), 16, 10)
        .cast("long") < 64L)
    val exact = decilesOf(docs)
    val samp = decilesOf(sampled)
      .select(col("source"), col("decile"),
        col("value").as("sampled_value"), col("n_docs").as("n_sampled"))
    exact.join(samp, Seq("source", "decile"), "left")
      .select(col("source"), col("decile"), col("value"),
        col("n_docs"), col("sampled_value"), col("n_sampled"),
        when(col("sampled_value").isNotNull,
          abs(col("sampled_value") - col("value"))).as("abs_err"))
      .orderBy(col("source"), col("decile"))
  }

  /** Decile sample-rate sweep (q264): q258's audit swept over nested
    * deterministic sample rates 1/4, 1/16, 1/64 (same 'sq|' KDF,
    * thresholds 64/16/4 over the first md5 byte — each sample is a
    * SUBSET of the previous, the bottom-k discipline, so the sweep
    * reads like tightening one dial). Per (source, rate): the max and
    * mean absolute decile error, how many of the 9 deciles the sample
    * could not estimate at all, and both population sizes. This is the
    * 100 TB decision table in one query: pick, per source, the
    * cheapest rate whose max_abs_err is inside tolerance — q258 told
    * you what 1/4 buys; this says where the curve breaks.
    *
    * 100 TB shape: every sampled chain is a scan-level filter feeding
    * the same value-histogram decile fold as q200 (distinct lengths,
    * not rows); the exact chain is computed once; the join and rollup
    * run on deciles × sources × 3 rows — metadata-scale.
    */
  def decileSampleSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val h = conv(substring(md5(concat(lit("sq|"),
      col("doc_id").cast("string")).cast("binary")), 1, 2), 16, 10)
      .cast("long")
    val exact = decilesOf(docs)
    val denoms = Seq(64L -> 4L, 16L -> 16L, 4L -> 64L)
    val sweep = denoms.map { case (t, denom) =>
      decilesOf(docs.filter(h < t))
        .select(lit(denom).as("denom"), col("source"), col("decile"),
          col("value").as("sampled_value"),
          col("n_docs").as("n_sampled"))
    }.reduce(_ unionByName _)
    val dn = denoms.map { case (_, d) => d }
      .map(d => lit(d)).toArray
    val grid = exact.crossJoin(
      spark.range(1).select(explode(array(dn: _*)).as("denom")))
    grid.join(sweep, Seq("denom", "source", "decile"), "left")
      .withColumn("abs_err",
        when(col("sampled_value").isNotNull,
          abs(col("sampled_value") - col("value"))))
      .groupBy(col("source"), col("denom"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("n_sampled")).as("n_sampled"),
        sum(when(col("sampled_value").isNull, 1L).otherwise(0L))
          .as("n_missing"),
        max(col("abs_err")).as("max_abs_err"),
        avg(col("abs_err")).as("mean_abs_err"))
      .orderBy(col("source"), col("denom"))
  }

  /** Ranker agreement (q195): set overlap between the BM25 (q130) and
    * TF-IDF-cosine (q151) top-15 result sets for the SAME query terms —
    * the one-row eval that says whether two retrieval scorers would
    * surface the same training documents (high agreement = the cheaper
    * ranker can gate; low = they see different corpora). Both inputs
    * are independently oracled; the overlap is exact set arithmetic on
    * their doc-id sets.
    *
    * 100 TB shape: both rankers are already bounded (query-term
    * postings only, TakeOrdered top-15); the agreement is a join of
    * two 15-row relations.
    */
  def rankerAgreement(spark: SparkSession, dir: String): DataFrame = {
    // NOT persisted (r19, measured): caching the two 15-row top-ks
    // forces two serial materialization jobs and costs ~1.2s/pass;
    // unpersisted, the duplicated ranker subtrees run inside one job
    // whose stages overlap (2.4s vs 3.6s warm isolated)
    val bm = bm25TopK(spark, dir).select(col("doc_id"))
    val ti = tfidfCosineTopK(spark, dir).select(col("doc_id"))
    bm.join(ti, "doc_id").agg(count(lit(1)).as("n_common"))
      .crossJoin(bm.agg(count(lit(1)).as("n_bm25")))
      .crossJoin(ti.agg(count(lit(1)).as("n_tfidf")))
      .select(col("n_bm25"), col("n_tfidf"), col("n_common"),
        (col("n_bm25") - col("n_common")).as("n_bm25_only"),
        (col("n_tfidf") - col("n_common")).as("n_tfidf_only"),
        (col("n_common").cast("double") /
          (col("n_bm25") + col("n_tfidf") - col("n_common")).cast("double"))
          .as("overlap_jaccard"))
  }

  /** Label lexicon (q194): the lexical signature of each embedding
    * label — the top-3 tokens by LIFT, p(token | label) / p(token),
    * the interpretability table that names what a cluster/class is
    * "about" (the standard sanity check before a label drives a
    * curation decision). Lift is a ratio of exact count ratios, so
    * every score is bit-identical cross-engine; selection ranks on the
    * fixed-point key (q147 discipline) with lexical tie-break.
    *
    * 100 TB shape: one token-explode pass joined to the (label ≪
    * corpus) doc→label relation, two map-side-combined aggregates
    * ((label, token) and token marginals), and a per-label top-k
    * window over the (labels × vocab) relation — never the corpus.
    */
  def labelLexicon(spark: SparkSession, dir: String,
      topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("label"))
    val toks = Tables.documents(spark, dir)
      .join(labels, "doc_id")
      .select(col("label"), explode(TextAnalytics.tokens(col("text")))
        .as("token"))
    val perLabel = toks.groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("tf_l"))
      .withColumn("n_l", sum(col("tf_l")).over(
        Window.partitionBy(col("label"))))
    val marginal = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
    val total = marginal.agg(sum(col("tf")).as("n_all"))
    val scored = perLabel.join(marginal, "token")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("tf_l").cast("double") / col("n_l").cast("double")) /
          (col("tf").cast("double") / col("n_all").cast("double")))
    val fp = floor(col("lift") * lit(1e9) + lit(0.5)).cast("long")
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(fp.desc, col("token")))
        .cast("long"))
      .filter(col("rk") <= topK)
      .select(col("label"), col("rk"), col("token"), col("tf_l"),
        col("lift"))
      .orderBy(col("label"), col("rk"))
  }

  /** Per-source length-distribution drift (q192): the exact
    * Kolmogorov–Smirnov statistic between each source's document-length
    * CDF and the rest-of-corpus CDF, with the length at which the gap
    * peaks — the distribution-shape complement to q158's unigram KL
    * (a feed that silently starts truncating or padding shifts its
    * length CDF long before its vocabulary moves). All CDF values are
    * ratios of exact counts, so the statistic is bit-identical
    * cross-engine and fully oracled.
    *
    * 100 TB shape: one histogram pass (source × distinct lengths —
    * lengths are a bounded value domain), cumulative windows over that
    * HISTOGRAM (never the corpus), and a per-source argmax window over
    * the same small grid.
    */
  def lengthKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
    val hist = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val vals = docs.select(col("n_chars").as("v")).distinct()
    val srcCnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = docs.agg(count(lit(1)).as("n_all"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("v"))
    val all = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt_all"))
      .withColumn("cum_all", sum(col("cnt_all")).over(
        Window.orderBy(col("v"))))
    val cdfs = srcCnt.crossJoin(vals)
      .join(hist, Seq("source", "v"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_s", sum(col("cnt")).over(bySrc))
      .join(all.select(col("v"), col("cum_all")), "v")
      .crossJoin(broadcast(tot))
      .withColumn("cdf_s",
        col("cum_s").cast("double") / col("n_s").cast("double"))
      .withColumn("cdf_r",
        (col("cum_all") - col("cum_s")).cast("double") /
          (col("n_all") - col("n_s")).cast("double"))
      .withColumn("diff", abs(col("cdf_s") - col("cdf_r")))
    cdfs.withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("diff").desc, col("v"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_s"), col("diff").as("ks"),
        col("v").as("at_chars"))
      .orderBy(col("source"))
  }

  /** Count-Min heavy hitters (q184): the classic streaming-sketch
    * frequency table — depth×width (4×256) counter grid, each token
    * hashed into one cell per row, estimate = min over its cells — run
    * over the corpus vocabulary and AUDITED against the exact counts
    * for the top-k tokens. Count-Min's guarantee is one-sided
    * (estimate ≥ truth, error bounded by colliding mass), so the
    * emitted `overcount` column is the sketch-quality number a
    * heavy-hitter pipeline monitors. Cells come from md5 (the q95/q113
    * cross-engine hash family), so the WHOLE sketch — grid, estimates,
    * overcounts — hash-matches in DuckDB exactly, not just within
    * tolerance (the q47/q81 sketches are engine-native and get
    * exact+tolerance twins instead).
    *
    * 100 TB shape: the grid is depth×width = 1024 cells built by one
    * map-side-combined pass over the (token, tf) vocab relation (tf
    * itself one corpus pass); estimates join the vocab back to the
    * 1024-row grid (broadcast). Nothing scales with corpus size but
    * the initial token count.
    */
  def countMinHeavyHitters(spark: SparkSession, dir: String,
      depth: Int = 4, k: Int = 20): DataFrame =
    cmsFromTf(tokenTfOf(Tables.documents(spark, dir)), depth, k)

  /** The global (token, cnt) term-frequency grain — the shared
    * sufficient statistic for the WHOLE global-vocab sketch family
    * (q184 Count-Min, q190 Zipf), and it sum-merges per token, so the
    * streaming twins (q310/q311) maintain exactly this table.
    */
  private[graft] def tokenTfOf(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** The q184 finish off the term-frequency grain. */
  private[graft] def cmsFromTf(tfRaw: DataFrame,
      depth: Int = 4, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def cell(i: Int) =
      (conv(substring(md5(concat(lit(s"cm$i|"), col("token"))
        .cast("binary")), 1, 1), 16, 10).cast("long") * 16 +
        conv(substring(md5(concat(lit(s"cm$i|"), col("token"))
          .cast("binary")), 2, 1), 16, 10).cast("long"))
    val tf = tfRaw.select(col("token"), col("cnt").as("tf"))
      .persist()
    val cells = tf.select(col("token"), col("tf"),
      explode(array((0 until depth).map(i =>
        struct(lit(i.toLong).as("row"), cell(i).as("cell"))): _*)).as("rc"))
      .select(col("token"), col("tf"),
        col("rc.row").as("row"), col("rc.cell").as("cell"))
    val grid = cells.groupBy(col("row"), col("cell"))
      .agg(sum(col("tf")).as("cell_count"))
    val est = cells.join(broadcast(grid), Seq("row", "cell"))
      .groupBy(col("token"))
      .agg(min(col("cell_count")).as("cm_estimate"), min(col("tf")).as("tf"))
    est.orderBy(col("tf").desc, col("token")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("tf").desc, col("token"))).cast("long"))
      .select(col("rk"), col("token"), col("tf"), col("cm_estimate"),
        (col("cm_estimate") - col("tf")).as("overcount"))
      .orderBy(col("rk"))
  }

  /** HyperLogLog distinct-content estimate per source (q222): the
    * cardinality sketch that completes the mergeable-sketch family
    * (Count-Min q184 = frequency, SpaceSaving q213 = top-k, this =
    * distinct count) — 256 registers from the first two md5 nibbles of
    * the content hash, register value = leading-zero rank of the next
    * 48 hash bits, Flajolet et al.'s estimator with the small-range
    * linear-counting correction, AUDITED against the exact distinct
    * count per source. Duplicates need no pre-dedup: identical content
    * hashes hit the same register with the same rank, so the sketch is
    * insensitive to multiplicity BY CONSTRUCTION — the property that
    * makes it the 100 TB cardinality monitor.
    *
    * Exactness: registers are md5-nibble arithmetic (the q184 cell
    * discipline), the harmonic sum is kept as an EXACT BIGINT by
    * scaling 2^-rank to 2^(49-rank) (≤ 256·2^49 < 2^63 — no FP
    * accumulation order anywhere), and the estimate is spelled as one
    * shared formula with a single division, so the whole table
    * hash-matches cross-engine.
    *
    * 100 TB shape: one map-side-combined (source, register) → max-rank
    * aggregate over the corpus scan (512 groups), then #sources-row
    * arithmetic. The register table is tiny and MERGEABLE (max is
    * associative) — the streaming twin (q223) maintains it per batch
    * and drains to this exact table.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllFold(Tables.documents(spark, dir))

  /** Shared q222/q223 fold: documents → per-source HLL report. */
  private[graft] def hllFold(docsRaw: DataFrame): DataFrame = {
    val docs = docsRaw
      .select(col("source"), md5(col("text").cast("binary")).as("h"))
      // barrier: feeds the register fold and the exact-count audit
      .persist()
    hllReport(docs, hllRegsFromHashed(docs))
  }

  /** Per-source register table (source, reg, mrho) from raw documents
    * — the mergeable per-batch unit the streaming twin appends.
    */
  private[graft] def hllRegisters(docsRaw: DataFrame): DataFrame =
    hllRegsFromHashed(docsRaw
      .select(col("source"), md5(col("text").cast("binary")).as("h")))

  /** Register fold at arbitrary key grain — (keys..., reg, mrho). */
  private[graft] def hllRegsKeyed(hashed: DataFrame,
      keys: Seq[String]): DataFrame =
    hashed
      .select(keys.map(col) :+
        conv(substring(col("h"), 1, 2), 16, 10).cast("long").as("reg") :+
        conv(substring(col("h"), 3, 12), 16, 10).cast("long").as("v"): _*)
      .withColumn("rho", when(col("v") === 0L, lit(49L))
        .otherwise(lit(49L) - length(bin(col("v"))).cast("long")))
      .groupBy(keys.map(col) :+ col("reg"): _*)
      .agg(max(col("rho")).as("mrho"))

  private def hllRegsFromHashed(hashed: DataFrame): DataFrame =
    hllRegsKeyed(hashed, Seq("source"))

  /** Estimator arithmetic over a drained (source, reg, mrho) register
    * table plus the doc relation for the exact audit — the half q223
    * reuses after merging per-batch registers.
    */
  private[graft] def hllReport(docs: DataFrame, regs: DataFrame): DataFrame =
    hllReportKeyed(docs, regs, Seq("source"))

  /** The same estimator at arbitrary key grain (q234 uses
    * (source, lang) cells).
    */
  private[graft] def hllReportKeyed(docs: DataFrame, regs: DataFrame,
      keys: Seq[String]): DataFrame = {
    val per = regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("registers_hit"),
        sum(expr("CAST(pow(2.0, 49 - mrho) AS BIGINT)")).as("s_hit"))
    val exact = docs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("exact_distinct"))
    exact.join(per, keys)
      .withColumn("s_scaled", col("s_hit") +
        (lit(256L) - col("registers_hit")) * lit(562949953421312L))
      .withColumn("v0", lit(256L) - col("registers_hit"))
      .withColumn("raw_estimate",
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
          lit(65536.0) * lit(562949953421312.0) /
          col("s_scaled").cast("double"))
      .withColumn("estimate",
        when(col("v0") > 0L && col("raw_estimate") <= lit(640.0),
          lit(256.0) * log(lit(256.0) / col("v0").cast("double")))
          .otherwise(col("raw_estimate")))
      .select(keys.map(col) ++ Seq(col("n_docs"), col("exact_distinct"),
        col("registers_hit"), col("s_scaled"), col("raw_estimate"),
        col("estimate"),
        ((col("estimate") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")).as("rel_err")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** HLL cell table (q234): the q222 distinct-content sketch at the
    * FINER (source, lang) grain — the cardinality monitor a mix table
    * (q162) actually keys on — with the mergeability that justifies
    * keeping registers per cell: max-merging a source's lang-cell
    * registers yields EXACTLY the q222 source registers (max is
    * associative over any partition of the rows), so one stored
    * register table serves every roll-up grain; Wave6Spec pins the
    * merged-equals-direct identity. Same exact BIGINT harmonic sums
    * and single-division estimator as q222, per cell.
    */
  def hllDistinctCells(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        md5(col("text").cast("binary")).as("h"))
      // barrier: feeds the register fold and the exact-count audit
      .persist()
    hllReportKeyed(docs, hllRegsKeyed(docs, Seq("source", "lang")),
      Seq("source", "lang"))
  }

  /** End-to-end curation funnel (q226): the whole dedup-and-filter
    * pipeline as ONE audited table — raw corpus → exact dedup (first
    * doc per content hash, the q28 rule) → near-dedup (drop the larger
    * id of every verified q95 near-dup pair — the greedy pairwise
    * keeper) → quality gate (the q211 flag: ≥ 20 tokens, distinct
    * ratio > 0.1, stopword ratio < 0.5), with doc/token counts and
    * retention vs raw at every stage. Extends q141's row-local funnel
    * (raw → exact → length gate) with the stage that actually needs
    * distributed machinery — the near-dup drop over the banded pair
    * graph — completing the one-page answer to "how much survives
    * curation and which stage pays"; every count is exact integer
    * arithmetic and the near-dup stage reuses the oracled q95 pair
    * machinery, so the funnel is fully hash-checked cross-engine.
    *
    * 100 TB shape: content hashes and band buckets shuffle, never
    * text; each stage is a semi/anti join on doc_id against a
    * keeper/drop set; output is 4 rows.
    */
  def curationPipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup => D}
    val docsRaw = Tables.documents(spark, dir)
    val toks = TextAnalytics.tokens(col("text"))
    val base = docsRaw.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(toks).cast("long").as("tc"),
        size(array_distinct(toks)).cast("long").as("dtc"),
        size(filter(toks, t => t === "the" || t === "a")).cast("long")
          .as("stc"))
      // barrier: every stage and the raw totals read this projection
      .persist()
    val exactKeep = base.join(
      base.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val dropNear = D.dupEdges(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
    val near = exactKeep.join(dropNear, Seq("doc_id"), "left_anti")
    val qual = near.filter(col("tc") >= 20 &&
      col("dtc").cast("double") / col("tc").cast("double") > 0.1 &&
      col("stc").cast("double") / col("tc").cast("double") < 0.5)
    // shared staged-retention core with q141 (r10 verdict #6)
    val stages = stagedFunnel(Seq(
      (0L, "raw", base),
      (1L, "exact_dedup", exactKeep),
      (2L, "near_dedup", near),
      (3L, "quality", qual)))
    val raw = base.agg(count(lit(1)).as("r_docs"),
      sum(col("tc")).as("r_tokens"))
    stages.crossJoin(raw)
      .select(col("stage_id"), col("stage"), col("n_docs"),
        col("n_tokens"),
        (col("n_docs").cast("double") / col("r_docs").cast("double"))
          .as("doc_retention"),
        (col("n_tokens").cast("double") / col("r_tokens").cast("double"))
          .as("token_retention"))
      .orderBy(col("stage_id"))
  }

  /** Shard-balance audit (q231): route every document to one of
    * `shards` buckets by content-independent id hash (16 md5 bits mod
    * shards — the assignment a 1000-executor run uses to lay data out
    * before any repartition) and audit how evenly DOC count and TOKEN
    * mass land: per shard, counts plus the exact relative deviation
    * from the uniform expectation (integer numerators, ONE division
    * per cell). Doc-count balance is guaranteed-good by the hash;
    * token-mass balance is NOT (a shard can draw the long documents) —
    * this table is how you see that before sizing
    * `spark.sql.files.maxPartitionBytes` / bucket counts around it,
    * the q168-for-sharding.
    *
    * 100 TB shape: row-local hash arithmetic + one map-side-combined
    * #shards-row aggregate.
    */
  def shardBalanceAudit(spark: SparkSession, dir: String,
      shards: Int = 32): DataFrame = {
    val shard = conv(substring(md5(concat(lit("shard|"),
      col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast("long") % shards
    val per = Tables.documents(spark, dir)
      .select(shard.as("shard"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("tc"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
    val tot = per.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("n_tokens")).as("t_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        ((col("n_docs") * lit(shards.toLong)).cast("double") /
          col("t_docs").cast("double") - lit(1.0)).as("doc_dev"),
        ((col("n_tokens") * lit(shards.toLong)).cast("double") /
          col("t_tokens").cast("double") - lit(1.0)).as("token_dev"))
      .orderBy(col("shard"))
  }

  /** Length–quality correlation (q236): per source, the point-biserial
    * correlation between document length and the q211 binary quality
    * flag — the one-number answer to "is my quality gate secretly a
    * length filter?" (r → 1 means the gate adds nothing over a length
    * cut; r ≈ 0 means it measures something length doesn't). All five
    * sufficient statistics (n, Σx, Σx², Σy, Σxy with y ∈ {0,1}) are
    * EXACT integer sums spelled identically in both engines (the q212
    * Pearson discipline); the combination into r is one shared double
    * formula. Cells where the flag never varies (all 0 or all 1) emit
    * r = 0 with `degenerate` = 1 rather than a NULL divide, so both
    * engines agree on the guard too.
    *
    * 100 TB shape: one row-local projection + one map-side-combined
    * per-source aggregate; output is #sources rows.
    */
  def lengthQualityCorrelation(spark: SparkSession,
      dir: String): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    val per = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"),
        when(size(toks) >= 20 &&
          size(array_distinct(toks)).cast("double") /
            size(toks).cast("double") > 0.1 &&
          size(filter(toks, t => t === "the" || t === "a"))
            .cast("double") / size(toks).cast("double") < 0.5,
          1L).otherwise(0L).as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"))
    // y is binary: Σy² = Σy, so var_y numerator = n·Σy − (Σy)²
    val num = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = col("n").cast("double") * col("sy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    per.select(col("source"), col("n").as("n_docs"),
        col("sy").as("n_quality"),
        when(vx > 0.0 && vy > 0.0, num / sqrt(vx * vy))
          .otherwise(lit(0.0)).as("r"),
        when(vx > 0.0 && vy > 0.0, 0L).otherwise(1L).as("degenerate"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance weighting (q180): score every non-target
    * document by its average per-token log-likelihood ratio between a
    * TARGET unigram LM (here the `target` source, standing in for the
    * high-quality slice — wiki/books in the published recipe) and the
    * RAW pool's LM, both add-one smoothed over the joint vocabulary;
    * keep the top `k`. This is the data-selection staple between
    * "hard quality rules" (q24) and "full perplexity filtering" (q156):
    * cheap (unigram), targeted (ratio, not absolute fluency).
    *
    * 100 TB shape: both LMs live in one narrow (token, tf_t, tf_r)
    * vocab relation built by a single map-side-combined corpus pass;
    * scoring is the token-exploded corpus joined to that relation on
    * the token key (vocab ≪ corpus; at web scale this is the same
    * n-gram-relation join as q156/q158) and one per-doc aggregate.
    * Selection orders by the fixed-point-rounded key (the q147/q151
    * discipline) so a last-ulp cross-engine ln disagreement at the
    * rank-k boundary cannot select different docs.
    */
  def dsirWeights(spark: SparkSession, dir: String,
      target: String = "src0", k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("source") === target, 1L).otherwise(0L)).as("tf_t"),
        sum(when(col("source") =!= target, 1L).otherwise(0L)).as("tf_r"))
    val totals = counts.agg(sum(col("tf_t")).as("tt"),
      sum(col("tf_r")).as("tr"), count(lit(1)).as("v"))
    val lm = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        (log((col("tf_t") + 1).cast("double") /
            (col("tt") + col("v")).cast("double")) -
          log((col("tf_r") + 1).cast("double") /
            (col("tr") + col("v")).cast("double"))).as("lw"))
    val scored = toks.filter(col("source") =!= target)
      .join(lm, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lw")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s") / col("n_tokens").cast("double")).as("score"))
    val fp = floor(col("score") * lit(1e9) + lit(0.5)).cast("long")
    scored.orderBy(fp.desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(fp.desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_tokens"), col("score"))
      .orderBy(col("rk"))
  }

  /** Fractional-epoch materialization (q206): turn q171's per-source
    * epoch PLAN into the concrete per-epoch draw manifest a data loader
    * consumes. Integer arithmetic does the split exactly: a source with
    * target T and corpus size N tokens gets `T div N` FULL passes plus
    * one PARTIAL pass of `T mod N` tokens; the partial pass selects the
    * greedy prefix of the source's docs in deterministic md5 order
    * until the remainder is covered (overshoot ≤ one doc — the
    * classic shard-cut rule), so reruns and engines agree doc-for-doc.
    *
    * 100 TB shape: the plan is the q171 #sources-row driver model; the
    * selection pass is one corpus scan with a per-source window prefix
    * sum (hash order, source-partitioned — no global sort) against a
    * broadcast remainder table. Output is Σ(epochs+1) rows per source,
    * never the corpus. Fully oracled (shared q171 CTE + the same
    * mod/div split).
    */
  def epochMaterialization(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val plan = tokenBudgetPlanDf(spark, docs)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"))
      // an all-empty source (n_tokens = 0) would NULL the div here but
      // hard-error DuckDB's `//` — filter in BOTH engines so they
      // degrade identically (ADVICE r9)
      .filter(col("n_tokens") > 0)
      .withColumn("full_e", expr("target_tokens div n_tokens"))
      .withColumn("ptar", col("target_tokens") % col("n_tokens"))
    val cum = docs.select(col("source"), col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("tc"),
        md5(concat(lit("epoch|"), col("doc_id").cast("string"))
          .cast("binary")).as("hk"))
      .withColumn("cum", coalesce(sum(col("tc")).over(
        Window.partitionBy(col("source"))
          .orderBy(col("hk"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val sel = cum
      .join(broadcast(plan.select(col("source"), col("ptar"))), "source")
      .filter(col("cum") < col("ptar"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sel"), sum(col("tc")).as("tok_sel"))
    val fulls = plan.filter(col("full_e") > 0)
      .select(col("source"),
        explode(sequence(lit(0L), col("full_e") - 1)).as("epoch"),
        lit("full").as("kind"), col("n_docs"), col("n_tokens"))
    val parts = plan.filter(col("ptar") > 0)
      .join(sel, Seq("source"), "left")
      .select(col("source"), col("full_e").as("epoch"),
        lit("partial").as("kind"),
        coalesce(col("n_sel"), lit(0L)).as("n_docs"),
        coalesce(col("tok_sel"), lit(0L)).as("n_tokens"))
    fulls.unionByName(parts).orderBy(col("source"), col("epoch"))
  }

  /** Greedy bigram decode (q216): the determinism smoke test of the LM
    * family — starting from the train corpus's most frequent token,
    * repeatedly emit the argmax-count successor for `steps` steps. A
    * quick qualitative probe of what the n-gram tables (q129/q159)
    * actually memorized (looping output = boilerplate-dominated
    * counts), and the same iterative-argmax harness as q154's MMR:
    * every step is integer-count ranked with lexical tie-break, so the
    * whole trajectory is exact and the oracle unrolls it step for step.
    *
    * 100 TB shape: the bigram table is the corpus-pass product (narrow
    * (wa, wb, count) relation); each decode step is one equi-join of a
    * 1-row context against it + a TakeOrdered(1). The driver holds
    * `steps` strings (q154's bounded-trajectory contract).
    */
  def greedyDecode(spark: SparkSession, dir: String,
      steps: Int = 8): DataFrame = {
    import spark.implicits._
    val train = Tables.documents(spark, dir)
      .filter(splitCol("doc_id") === "train")
      .select(TextAnalytics.tokens(col("text")).as("toks"))
      .persist()
    val bi = train
      .filter(size(col("toks")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("wa"),
            element_at(col("toks"), i + 1).as("wb")))).as("b"))
      .select(col("b.wa"), col("b.wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cb"))
      .persist()
    val seedOpt = train.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .orderBy(col("cu").desc, col("tok")).limit(1)
      .collect().headOption.map(_.getString(0))
    // an EMPTY train split (tiny/filtered corpora) has no seed — the
    // trajectory is empty, matching the oracle's empty chain, not a
    // NoSuchElementException (ADVICE r9)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var cur = seedOpt.getOrElse("")
    var step = 1
    var dead = seedOpt.isEmpty
    while (step <= steps && !dead) {
      val next = bi.filter(col("wa") === cur)
        .orderBy(col("cb").desc, col("wb")).limit(1).collect()
      if (next.isEmpty) dead = true
      else {
        val r = next.head
        out += ((step.toLong, cur, r.getAs[String]("wb"),
          r.getAs[Long]("cb")))
        cur = r.getAs[String]("wb")
        step += 1
      }
    }
    train.unpersist(false)
    bi.unpersist(false)
    out.result().toDF("step", "context", "next_tok", "c_bigram")
      .orderBy(col("step"))
  }

  /** Split-composition bias audit (q220): for every (split, lang)
    * cell, the observed doc count vs the count expected if the q136
    * doc-id-hash split were independent of language — expected =
    * split_total · lang_total / corpus_total, exact integer
    * numerators with ONE final division per cell, plus the relative
    * deviation. The QA table that certifies a hash split didn't
    * accidentally correlate with a data attribute (it can, when ids
    * encode ingest order and ingest order encodes language) before
    * anyone trusts per-split evals.
    *
    * 100 TB shape: the split is row-local hash arithmetic; the audit
    * is three map-side-combined count aggregates joined at
    * (splits × langs) size.
    */
  def splitCompositionAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(splitCol("doc_id").as("split"), col("lang"))
      .persist()
    val cells = base.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val bySplit = base.groupBy(col("split"))
      .agg(count(lit(1)).as("n_split"))
    val byLang = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
    val total = base.agg(count(lit(1)).as("n_total"))
    cells.join(bySplit, "split").join(byLang, "lang").crossJoin(total)
      .select(col("split"), col("lang"), col("n"),
        ((col("n_split") * col("n_lang")).cast("double") /
          col("n_total").cast("double")).as("expected"),
        ((col("n") * col("n_total")).cast("double") /
          (col("n_split") * col("n_lang")).cast("double") - lit(1.0))
          .as("rel_dev"))
      .orderBy(col("split"), col("lang"))
  }

  /** Robust per-source length outliers (q219): median + MAD (median
    * absolute deviation) of doc lengths per source, and the count of
    * docs beyond k·MAD — the robust outlier rule a curation pass uses
    * where mean/σ (q143's moment arithmetic) would be dragged by the
    * very outliers it hunts. Both medians are EXACT rank selections
    * (value at rank ⌈n/2⌉, the q200 discipline), so the whole table is
    * integer arithmetic until the final share division.
    *
    * 100 TB shape (the r9 verdict's histogram fold, now the
    * implementation): the corpus collapses ONCE to the per-(source,
    * length) histogram — one map-side-combined aggregate, the only
    * pass that touches doc grain. Median, the deviation histogram
    * (|len − med| merges the ± sides of the SAME histogram — no second
    * corpus pass), MAD, and the outlier counts are all cumulative
    * walks over histogram rows (value domain ≪ corpus). No per-source
    * row-grain sort anywhere, so a dominant source costs its distinct
    * lengths, not its doc count. Lengths are bounded integers, so
    * every selection is exact — same values, same oracle.
    */
  def lengthMadOutliers(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val hist0 = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    // The histogram is metadata-scale by construction (sources ×
    // distinct lengths — lengths are bounded integers), while the
    // distributed walk below pays three serial window/join jobs over
    // it. Under the cap the whole median/MAD/outlier walk is exact
    // integer driver arithmetic over the collected histogram (the
    // q338-Markov / q131-BPE / CC-fold precedent, probed with
    // limit(cap+1) so nothing unbounded reaches the driver); past the
    // cap (or under `SPARK_GRAFT_MAD_DISTRIBUTED=1`, the A/B knob) the
    // distributed chain runs unchanged. `MadDriverFoldSpec` pins
    // equality.
    if (!sys.env.get("SPARK_GRAFT_MAD_DISTRIBUTED").contains("1")) {
      val probe = hist0.limit(MadDriverHistCap + 1).collect()
      if (probe.length <= MadDriverHistCap)
        return madDriverFold(spark, probe, k)
    }
    madDistributed(spark, hist0, k)
  }

  /** Histogram-row cap for the q219 driver fold. */
  private[graft] val MadDriverHistCap = 200000

  /** Dispatch observability for the spec: driver folds taken. */
  private[graft] val madDriverFolds =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The q219 walk as driver arithmetic over the collected histogram —
    * value at rank (n+1) div 2 via the cumulative walk (identical rank
    * rule to the window chain), the deviation rebin |len − med|, the
    * MAD selection over the rebinned histogram, and the k·MAD outlier
    * count. All integer until the final share division — exactly the
    * distributed operators' arithmetic on the same rows.
    */
  private[graft] def madDriverFold(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row], k: Int): DataFrame = {
    import spark.implicits._
    madDriverFolds.incrementAndGet()
    val out = rows.groupBy(_.getAs[String]("source")).toSeq
      .map { case (src, rs) =>
        val h = rs.map(r =>
          (r.getAs[Long]("n_chars"), r.getAs[Long]("cnt")))
          .sortBy(_._1).toIndexedSeq
        val n = h.iterator.map(_._2).sum
        val rank = (n + 1L) / 2L
        // first value (ascending) whose cumulative count reaches the
        // rank — the same row the window chain's cum-range filter picks
        def medianOf(hs: IndexedSeq[(Long, Long)]): Long = {
          var cum = 0L; var i = 0; var res = 0L; var found = false
          while (i < hs.length && !found) {
            cum += hs(i)._2
            if (cum >= rank) { res = hs(i)._1; found = true }
            i += 1
          }
          res
        }
        val med = medianOf(h)
        val devH = h.groupBy { case (v, _) => math.abs(v - med) }
          .map { case (d, xs) => (d, xs.iterator.map(_._2).sum) }
          .toIndexedSeq.sortBy((t: (Long, Long)) => t._1)
        val mad = medianOf(devH)
        val nOut = h.iterator
          .filter { case (v, _) => math.abs(v - med) > k.toLong * mad }
          .map(_._2).sum
        (src, n, med, mad, nOut, nOut.toDouble / n.toDouble)
      }
    out.toDF("source", "n_docs", "median", "mad", "n_outliers",
        "outlier_share")
      .orderBy(col("source"))
  }

  /** The distributed histogram-walk chain — the over-cap fallback and
    * the equivalence baseline for `MadDriverFoldSpec`.
    */
  private[graft] def madDistributed(spark: SparkSession,
      hist0: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    // barrier: the histogram feeds the median walk, the deviation
    // rebin, and the final rollup
    val hist = hist0.persist()
    // value at rank (n+1) div 2 = the histogram row whose cumulative
    // range covers the rank
    def medianOf(h: DataFrame, v: String): DataFrame = h
      .withColumn("cum", sum(col("cnt")).over(bySrc.orderBy(col(v))))
      .withColumn("n", sum(col("cnt")).over(bySrc))
      .withColumn("r", expr("(n + 1) div 2"))
      .filter(col("r") > col("cum") - col("cnt") && col("r") <= col("cum"))
      .select(col("source"), col(v).as("sel"))
    val med = medianOf(hist, "n_chars")
      .select(col("source"), col("sel").as("med"))
    val devHist = hist.join(broadcast(med), "source")
      .withColumn("dev", abs(col("n_chars") - col("med")))
      .groupBy(col("source"), col("dev"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = medianOf(devHist, "dev")
      .select(col("source"), col("sel").as("mad"))
    hist.join(broadcast(med), "source").join(broadcast(mad), "source")
      .withColumn("dev", abs(col("n_chars") - col("med")))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        first(col("med")).as("median"),
        first(col("mad")).as("mad"),
        sum(when(col("dev") > lit(k.toLong) * col("mad"), col("cnt"))
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_share",
        col("n_outliers").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** Duplicate-aware loss weighting (q217): instead of deleting exact
    * duplicates (q28), keep every copy but weight it 1/n_copies — the
    * soft-dedup alternative some training runs prefer (deletion loses
    * cross-source provenance; downweighting preserves it while making
    * each CONTENT count once toward the loss). Output grain is
    * (source, n_copies): docs, raw tokens, and the weighted effective
    * tokens n_tokens/n_copies — ONE division per output row over
    * integer sums, so the table is exact cross-engine (a per-doc
    * Σ(tc/n) of heterogeneous doubles would not be).
    *
    * 100 TB shape: hashes shuffle, never text — one hash aggregate for
    * copy counts, one broadcast-size join back, one (source, n_copies)
    * aggregate; output ≤ sources × distinct copy-counts rows.
    */
  def dupAwareWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text").cast("binary")).as("h"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("tc"))
      .persist()
    val copies = docs.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.join(copies, "h")
      .groupBy(col("source"), col("n_copies"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
      .select(col("source"), col("n_copies"), col("n_docs"),
        col("n_tokens"),
        (lit(1.0) / col("n_copies").cast("double")).as("weight"),
        (col("n_tokens").cast("double") / col("n_copies").cast("double"))
          .as("effective_tokens"))
      .orderBy(col("source"), col("n_copies"))
  }

  /** Contamination-repair split manifest (q218): q136 assigns splits
    * by doc-id hash and FLAGS leakage (val/test docs whose exact
    * content also appears in train); this operator executes the repair
    * a release actually ships — leaked held-out docs are REASSIGNED to
    * train (the conservative direction: never let a train-seen content
    * grade the model) — and emits the per-split audit: docs before,
    * docs moved out (leaked), docs moved in, docs after. Pure integer
    * set arithmetic over the q136 relation, exact cross-engine.
    *
    * 100 TB shape: the q136 chain (row-local split hash + one
    * content-hash semi-join) plus two #splits-row aggregates.
    */
  def splitLeakRepair(spark: SparkSession, dir: String): DataFrame = {
    val s = datasetSplit(spark, dir)
      .select(col("doc_id"), col("split"),
        when(col("leaked"), 1L).otherwise(0L).as("lk"))
      .persist()
    val before = s.groupBy(col("split"))
      .agg(count(lit(1)).as("n_before"), sum(col("lk")).as("n_out"))
    val moved = s.filter(col("lk") === 1L).count()
    before
      .select(col("split"), col("n_before"),
        when(col("split") === "train", 0L).otherwise(col("n_out"))
          .as("n_moved_out"),
        when(col("split") === "train", lit(moved)).otherwise(0L)
          .as("n_moved_in"))
      .withColumn("n_after",
        col("n_before") - col("n_moved_out") + col("n_moved_in"))
      .orderBy(col("split"))
  }

  /** Per-source curation scorecard (q211): the one-page review table a
    * data lead reads before signing off a mix — for every source its
    * volume (docs, tokens, token share), mean doc length, q24 quality
    * acceptance rate, q209 duplicate rate with Wilson 95% bounds, and
    * the q171 epoch plan — every column the exact arithmetic of its
    * home query, composed here so the numbers a decision juxtaposes
    * come from ONE consistent snapshot (mismatched-snapshot scorecards
    * are how curation reviews go wrong). Fully oracled: the oracle SQL
    * is the home queries' CTEs joined on source.
    *
    * 100 TB shape: every input is already a #sources-row relation
    * (each from one map-side-combined corpus aggregate — the hash
    * aggregate for dup rate, the token/flag aggregate, the q171 plan);
    * the scorecard is a join of tiny tables.
    */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalytics.tokenCount(col("text")).cast("long"))
          .as("n_tokens"),
        sum(TextAnalytics.qualityFlag(col("text"))).as("n_pass"))
    val tot = base.agg(sum(col("n_tokens")).as("tt"))
    val wilson = Dedup.dupRateWilson(spark, dir)
      .select(col("source"), col("n_dup"), col("dup_rate"),
        col("wilson_lo"), col("wilson_hi"))
    val plan = tokenBudgetPlanDf(spark, docs)
      .select(col("source"), col("epochs"), col("upsampled"))
    base.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tt").cast("double"))
          .as("token_share"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"),
        (col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("accept_rate"))
      .join(wilson, "source")
      .join(plan, "source")
      .orderBy(col("source"))
  }

  /** Heaps'-law vocabulary-growth curve (q205): vocabulary size after
    * the first n tokens of the corpus (in deterministic doc_id order)
    * at ten checkpoints n = ⌈d·N/10⌉, plus the fitted Heaps exponent β
    * (log-log regression over the ten points, the [[zipfFit]]
    * discipline). The companion diagnostic to q190's Zipf fit: together
    * they answer "is this corpus's lexical diversity growing like
    * natural text (β ≈ 0.5–0.8) or like boilerplate (β → 0)?" — the
    * cheap health check before a tokenizer-vocab decision (q131/q172).
    * Every checkpoint count is exact integer arithmetic, so the table
    * hash-matches cross-engine; β is a shared-formula double.
    *
    * 100 TB shape: global token positions come from a TWO-PHASE
    * prefix sum over the NARROW (doc_id, n_tokens) relation (the r9
    * verdict's ask, now the implementation): range-partition by
    * doc_id, per-partition running sums in parallel (a window keyed by
    * partition id — every partition sorts its own slice), per-
    * partition totals folded into cumulative offsets driver-side
    * (#partitions rows, a bounded driver model) and broadcast back.
    * No single-partition exchange of doc-grain rows anywhere — the
    * Wave5Spec guard now asserts its ABSENCE. Then one token explode →
    * min-position per type (map-side combined). The decile membership
    * join is checkpoint-table (10 rows, broadcast) × vocab — never the
    * corpus; at extreme scale the same counts fold from a
    * first-position histogram instead.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame =
    heapsLawDf(spark, Tables.documents(spark, dir))

  def heapsLawDf(spark: SparkSession, docsRaw: DataFrame): DataFrame = {
    val (first, tot) = firstPositions(spark, docsRaw, 0L)
    heapsFinish(spark, first,
      tot.select(col("n_tokens").as("n_total")))
  }

  /** Global first-occurrence positions of each token type over a doc
    * slice, with positions shifted by `offset` (tokens that precede
    * the slice) — the order-sensitive sufficient statistic behind
    * q205, extracted so q314's streaming twin can fold it per batch
    * (min-merge per token; under the id-ordered arrival contract the
    * per-batch positions ARE the global q205 positions). Returns the
    * (token, first_pos) relation and a one-row (n_tokens, max_doc)
    * summary for the offset/guard ledgers.
    */
  private[graft] def firstPositions(spark: SparkSession,
      docsRaw: DataFrame, offset: Long)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = docsRaw
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
      .filter(col("nt") > 0)
    // phase 1: range-partition the narrow relation so partition index
    // order == doc_id order, then each partition prefix-sums its own
    // slice (the pid-keyed window runs one task per partition)
    val narrow = docs.select(col("doc_id"), col("nt"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      // barrier: the partition-total pass and the local-prefix pass
      // must see the SAME materialized partitioning
      .persist()
    // phase 2: per-partition totals → cumulative starting offsets.
    // #partitions rows cross the driver — bounded by the session's
    // shuffle parallelism, never the data
    val totals = narrow.groupBy(col("pid")).agg(sum(col("nt")).as("ps"))
      .collect().sortBy(_.getAs[Int]("pid"))
    var acc = 0L
    val cumOffs = totals.map { r =>
      val o = acc; acc += r.getAs[Long]("ps"); (r.getAs[Int]("pid"), o)
    }.toSeq
    val offDf =
      if (cumOffs.isEmpty) Seq((0, 0L)).toDF("pid", "poff").limit(0)
      else cumOffs.toDF("pid", "poff")
    val wLoc = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = narrow
      .withColumn("loc", coalesce(sum(col("nt")).over(wLoc), lit(0L)))
      .join(broadcast(offDf), "pid")
      .select(col("doc_id"), (col("loc") + col("poff")).as("off"))
    val first = docs.select(col("doc_id"), col("toks"))
      .join(offsets, "doc_id")
      .select(col("off"), posexplode(col("toks")).as(Seq("p", "token")))
      .select(col("token"),
        (col("off") + col("p") + 1L + lit(offset)).as("gpos"))
      .groupBy(col("token")).agg(min(col("gpos")).as("first_pos"))
    val tot = docs.agg(
      coalesce(sum(col("nt")), lit(0L)).as("n_tokens"),
      max(col("doc_id")).as("max_doc"))
    (first, tot)
  }

  /** The q205 finish off the (token, first_pos) relation and the
    * one-row total — shared by the batch curve and q314's streaming
    * drain.
    */
  private[graft] def heapsFinish(spark: SparkSession, first: DataFrame,
      tot: DataFrame): DataFrame = {
    val chk = spark.range(1, 11).select(col("id").as("decile"))
      .crossJoin(tot)
      .select(col("decile"),
        expr("(decile * n_total + 9) div 10").as("n_tokens"))
    val vc = broadcast(chk).join(first, col("first_pos") <= col("n_tokens"))
      .groupBy(col("decile"), col("n_tokens"))
      .agg(count(lit(1)).as("vocab"))
    val x = log(col("n_tokens").cast("double"))
    val y = log(col("vocab").cast("double"))
    val fit = vc.agg(count(lit(1)).cast("double").as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    vc.crossJoin(fit)
      .select(col("decile"), col("n_tokens"), col("vocab"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("beta"))
      .orderBy(col("decile"))
  }

  /** Per-source bigram grain — (source, w1, w2, cnt), the q129 zip
    * extraction keyed by source. Sum-merges per (source, w1, w2), so
    * q306's streaming state is exactly this table.
    */
  private[graft] def bigramCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("source"), TextAnalytics.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("source"), col("b.w1"), col("b.w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))

  /** Bigram entropy rate (q305): per source, the conditional entropy
    * H(next | prev) of the token bigram distribution and its
    * perplexity — the sequential-predictability health metric (q173's
    * unigram entropy cannot see repetitive TEMPLATES whose unigram mix
    * looks natural; a boilerplate source shows a collapsed entropy
    * rate long before a human reads it). H = −Σ p(w1,w2)·ln p(w2|w1)
    * folds from exact integer (source, w1, w2) counts with one ln per
    * pair row; the checker's 9-decimal gate absorbs ln fold-order
    * drift as for q173/q158/q266.
    *
    * 100 TB shape: counts collapse map-side to (source, bigram)
    * grain; the context totals are one more combine; everything after
    * is vocab²-bounded, never token grain.
    */
  def bigramEntropyRate(spark: SparkSession, dir: String): DataFrame =
    entropyRateFromBigrams(bigramCountsOf(Tables.documents(spark, dir)))

  /** The q305 finish off the bigram-count grain — shared by the batch
    * report and q306's streaming drain.
    */
  private[graft] def entropyRateFromBigrams(countsRaw: DataFrame)
      : DataFrame = {
    val counts = countsRaw.persist()
    val ctx = counts.groupBy(col("source"), col("w1"))
      .agg(sum(col("cnt")).as("c1"))
    val nctx = ctx.groupBy(col("source"))
      .agg(count(lit(1)).as("n_contexts"))
    val agg = counts.join(ctx, Seq("source", "w1"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_pairs"),
        sum(col("cnt").cast("double") *
          log(col("cnt").cast("double") / col("c1").cast("double")))
          .as("sl"))
    agg.join(nctx, Seq("source"))
      .select(col("source"), col("n_bigrams"), col("n_contexts"),
        col("n_pairs"),
        (-col("sl") / col("n_bigrams").cast("double")).as("entropy_rate"),
        exp(-col("sl") / col("n_bigrams").cast("double")).as("perplexity"))
      .orderBy(col("source"))
  }

  /** Simpson diversity / HHI (q307): per source, the repeat
    * probability Σ p(term)² (Herfindahl concentration of the token
    * distribution) and its inverse — the "effective vocabulary" size.
    * The power-mean companion to q173's Shannon entropy, and EXACT to
    * one division per column: the sufficient statistics are the
    * integer Σc and Σc² (Σc² in decimal(38,0)/HUGEINT — a 100 TB
    * source's top term count squared overflows BIGINT).
    *
    * Rides the same (source, term) count grain as q158/q270, so the
    * streaming twin (q308) drains the SAME maintained state as the KL
    * monitor — one fold, two lexical-health reports.
    */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    simpsonFromCounts(tokenCountsOf(Tables.documents(spark, dir)))

  /** The q307 finish off the (source, term) count grain. */
  private[graft] def simpsonFromCounts(counts: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("cnt").cast(dec) * col("cnt").cast(dec)).as("ssq"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        (col("ssq").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("hhi"),
        ((col("n_tokens").cast("double") * col("n_tokens").cast("double")) /
          col("ssq").cast("double")).as("effective_vocab"))
      .orderBy(col("source"))
  }

  /** Distinctive terms per source (q330): smoothed log-odds of each
    * term's rate inside a source versus the REST of the corpus,
    * top-5 per source — the term-level "what makes this source
    * different" attribution behind q158's source-level KL number
    * (KL says A drifted; this says WHICH words). +1-smoothed odds on
    * both sides keep every input an exact integer; the two ln calls
    * are the only doubles (the q173/q158 gate discipline).
    *
    * 100 TB shape: one (source, term) count collapse (the q270/q308
    * grain — q331 maintains it); corpus term totals are one more
    * combine; the top-5 is a source-partitioned window over VOCAB
    * grain (the q60 top-k-per-group shape).
    */
  def distinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    distinctiveFromCounts(tokenCountsOf(Tables.documents(spark, dir)))

  /** The q330 finish off the (source, term) count grain. */
  private[graft] def distinctiveFromCounts(countsRaw: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = countsRaw.persist()
    val srcTot = counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("t_s"))
    val termTot = counts.groupBy(col("term"))
      .agg(sum(col("cnt")).as("c_all"))
    val corpus = counts.agg(sum(col("cnt")).as("t_all"))
    val scored = counts
      .join(srcTot, Seq("source"))
      .join(termTot, Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("c_rest", col("c_all") - col("cnt"))
      .withColumn("t_rest", col("t_all") - col("t_s"))
      .withColumn("log_odds",
        log((col("cnt") + 1L).cast("double") /
          (col("t_s") - col("cnt") + 1L).cast("double")) -
        log((col("c_rest") + 1L).cast("double") /
          (col("t_rest") - col("c_rest") + 1L).cast("double")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("log_odds").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 5L)
      .select(col("source"), col("rank"), col("term"), col("cnt"),
        col("c_rest"), col("log_odds"))
      .orderBy(col("source"), col("rank"))
  }

  /** Source-vocabulary overlap (q332): exact pairwise Jaccard of the
    * term SETS of every source pair — the vocabulary view of q224's
    * shingle-level source overlap (two sources can share few
    * documents yet write in the same words). Exact: the pair
    * intersection is a self-join of the distinct (source, term)
    * relation on term (each term present in k sources contributes to
    * C(k,2) pairs); union = |A|+|B|−∩; one division.
    *
    * 100 TB shape: vocab-grain relation, term-keyed self-join whose
    * fan-out is bounded by #sources per term, #sources² output rows.
    * q333 maintains the same grain per micro-batch (distinct at
    * drain over the count state).
    */
  def vocabJaccard(spark: SparkSession, dir: String): DataFrame =
    vocabJaccardFromCounts(tokenCountsOf(Tables.documents(spark, dir)))

  /** The q332 finish off the (source, term) grain. */
  private[graft] def vocabJaccardFromCounts(counts: DataFrame)
      : DataFrame = {
    val st = counts.select(col("source"), col("term")).distinct()
      .persist()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = st.as("a").join(st.as("b"),
        col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("inter"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Balanced class sample (q335): per language, exactly
    * k = min-class-size documents drawn by a deterministic md5 order —
    * the majority-downsampling step in front of any classifier
    * training (the class-balance complement of q68's stratified and
    * q147's weighted draws). The md5 rank is the engine-portable
    * pseudo-random order (the q147 KDF discipline), so the SAMPLE
    * ITSELF hash-matches cross-engine, not just its size.
    *
    * 100 TB shape: one class-count fold (broadcast scalar k), one
    * class-partitioned top-k window (q60 shape) — no global sort.
    */
  def balancedSample(spark: SparkSession, dir: String): DataFrame =
    balancedFromIndex(Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("h", md5(concat(lit("bal|"),
        col("doc_id").cast("string")).cast("binary"))))

  /** The q335 finish off the (lang, doc_id, h) index — shared by the
    * batch draw and q342's streaming drain (the min class size and
    * the md5 ranks are both drain-time folds, so the maintained index
    * always draws the CURRENT balanced sample).
    */
  private[graft] def balancedFromIndex(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    d.withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .crossJoin(broadcast(k))
      .filter(col("rk") <= col("k"))
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Benford first-digit audit (q334): the first significant digit
    * distribution of order totals and event values against Benford's
    * law p(d) = log10(1 + 1/d), with the per-entity χ² — the classic
    * fabricated-data / unit-mixup screen for numeric columns. The
    * digit is extracted from the DECIMAL STRING rendering (exact in
    * both engines — no floating log10-of-value boundary risk); counts
    * are exact integers; expected shares and χ² are one shared
    * formula.
    *
    * 100 TB shape: one map-side-combined count onto ≤ 9 digits per
    * entity; χ² is a 9-row fold.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordFinish(
      benfordCellsOf(Tables.orders(spark, dir), "o_totalprice",
          "orders.o_totalprice")
        .unionAll(benfordCellsOf(Tables.events(spark, dir), "value",
          "events.value")))

  /** One entity's (digit, n) cells — sum-merges, so q341's streaming
    * state is exactly this table (events side).
    */
  private[graft] def benfordCellsOf(df: DataFrame, valueCol: String,
      entity: String): DataFrame =
    df.select(col(valueCol).cast("decimal(18,2)").as("v"))
      .filter(col("v") >= 1)
      .select(substring(col("v").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .select(lit(entity).as("entity"), col("digit"), col("n"))

  /** The q334 finish off the (entity, digit, n) cells. */
  private[graft] def benfordFinish(cells: DataFrame): DataFrame = {
    val tot = cells.groupBy(col("entity")).agg(sum(col("n")).as("nt"))
    val withExp = cells.join(broadcast(tot), Seq("entity"))
      .withColumn("expected",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("exp_n", col("expected") * col("nt").cast("double"))
      .withColumn("dev",
        (col("n").cast("double") - col("exp_n")) *
          (col("n").cast("double") - col("exp_n")) / col("exp_n"))
    val chi = withExp.groupBy(col("entity"))
      .agg(sum(col("dev")).as("chi2"))
    withExp.join(broadcast(chi), Seq("entity"))
      .select(col("entity"), col("digit"), col("n"),
        (col("n").cast("double") / col("nt").cast("double")).as("share"),
        col("expected"), col("chi2"))
      .orderBy(col("entity"), col("digit"))
  }

  /** Lang-id confusion matrix (q309): the q25 marker-word guesser
    * evaluated against the labeled `lang` column — per (lang, guess)
    * cell, doc count and within-language share (the q247 discipline
    * applied to language identification: which languages the heuristic
    * confuses, not just how often it is right). 100 TB shape: one
    * map-side-combined count onto ≤ #langs × #guesses cells; the
    * share join is cell-grain.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    confusionFromCells(confusionCellsOf(Tables.documents(spark, dir)))

  /** The (lang, guess, cnt) cell grain — sum-merges, so q313's
    * streaming state is exactly this table.
    */
  private[graft] def confusionCellsOf(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        TextAnalytics.langGuess(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("cnt"))

  /** The q309 finish off the confusion-cell grain. */
  private[graft] def confusionFromCells(cellsRaw: DataFrame): DataFrame = {
    val cells = cellsRaw.select(col("lang"), col("lang_guess"),
      col("cnt").as("n_docs"))
    val totals = cells.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("lang_total"))
    cells.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_guess"), col("n_docs"),
        col("lang_total"),
        (col("n_docs").cast("double") / col("lang_total").cast("double"))
          .as("share"))
      .orderBy(col("lang"), col("lang_guess"))
  }
}
