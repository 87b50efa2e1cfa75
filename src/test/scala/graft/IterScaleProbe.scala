package graft

import org.apache.spark.sql.functions._

/** Decade scale probe for the iterative-graph family (r12 verdict #4:
  * q133 pagerank, q193/q196 CC, q204 k-core, q327 LPA, q338 power
  * iteration) — test scope, not shipped. The fixture dup graph is
  * hundreds of edges at sf0.1, so the probe drives the SAME round
  * machinery (synchronous rounds, localCheckpoint/persist barriers,
  * in-loop block freeing) on deterministic synthesized graphs a
  * decade apart: 100k nodes / 400k edges vs 1M / 4M (and 100 vs 1000
  * Markov states). What it proves: per-round plans stay O(1) deep,
  * wall-clock grows ~linearly in |E| (not quadratically), and no
  * round accumulates state. Run with
  *   sbt "Test/runMain graft.IterScaleProbe"
  * Numbers are recorded in COVERAGE.md ("Round 13").
  */
object IterScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    def time(label: String)(thunk: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = thunk
      println(f"$label rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      Caches.releaseAll(spark)
    }
    // deterministic pseudo-random multigraph: ~m edges over n nodes,
    // self-loops dropped; degree concentrates like a Poisson(2m/n)
    def graph(n: Long, m: Long) = spark.range(m).select(
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("a"),
        pmod(xxhash64(col("id"), lit(2)), lit(n)).as("b"))
      .filter(col("a") =!= col("b"))
    for ((tag, n, m) <- Seq(("1x", 100000L, 400000L),
        ("10x", 1000000L, 4000000L))) {
      // regenerated per probe: Caches.releaseAll between timings
      // frees ALL persisted blocks including a lineage-truncated
      // checkpoint, so a shared edge frame would die after the first
      // probe; generation is a range projection (~free) and is part
      // of every probe uniformly
      def ed = graph(n, m)
      time(s"cc_$tag") {
        operators.Dedup.connectedComponents(
          ed.select(col("a").as("src"), col("b").as("dst"))).count()
      }
      time(s"kcore_$tag") {
        operators.Analytics.kCorePeel(
          ed.select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b")).distinct(), 2,
          maxIters = 60)._1.count()
      }
      time(s"lpa_$tag") {
        operators.Analytics.labelPropagationFrom(
          ed.select(col("a").as("u"), col("b").as("w")), 4).count()
      }
      time(s"pagerank_$tag") {
        operators.Analytics.pageRankFrom(spark,
          ed.select(col("a").as("c"), col("b").as("s")).distinct(),
          2).count()
      }
    }
    for ((tag, k) <- Seq(("1x", 100), ("10x", 1000))) {
      // dense k-state transition counts (k^2 cells) over ONE state
      // space — every state needs outgoing mass or the stationary
      // normalization rightly throws (q338's chains are event types
      // observed as both source and target)
      val counts = spark.range(k.toLong * k).select(
          concat(lit("s"), col("id") % k).as("from_type"),
          // Column./ is DOUBLE division — floor back to the k states
          concat(lit("s"), floor(col("id") / k)).as("to_type"),
          (pmod(xxhash64(col("id")), lit(100)) + 1).as("n"))
      time(s"markov_$tag") {
        operators.Sessionize.stationaryFromCounts(spark, counts, 10).count()
      }
    }
    spark.stop()
  }
}
