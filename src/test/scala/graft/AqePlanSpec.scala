package graft

import graft.operators.{Dedup, TextOps}

/** Runtime-plan assertions: joins that deliberately carry NO broadcast
  * hint (because their build side is corpus-derived and only
  * runtime-small) must still END UP broadcast via AQE's post-shuffle
  * size stats — the property the operator docs promise. Asserted the
  * way BucketedSpec asserts exchange-freedom: materialize, then read
  * the finalized adaptive plan.
  */
class AqePlanSpec extends SparkSpec {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    // collect() executes THIS df's QueryExecution (count() would build
    // a different one and leave this plan unfinalized)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("AQE broadcasts the unigram-LM vocabulary join at runtime") {
    val plan = finalPlan(TextOps.unigramLmScore(spark, sfDir))
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary join did not convert to broadcast:\n${plan.take(3000)}")
    Caches.releaseAll(spark)
  }

  test("bounded-sample non-equi self-joins broadcast, never CartesianProduct") {
    // a plain a.join(b, id_a < id_b) plans as CartesianProduct with
    // leftSplits×rightSplits tasks — hundreds of near-empty tasks at
    // fixture split counts; the operators promise a broadcast build of
    // the structurally-bounded side instead
    import graft.operators.Similarity
    val exact = finalPlan(Similarity.cosineNearDupExact(spark, sfDir))
    assert(!exact.contains("CartesianProduct"),
      s"q91 regressed to a cartesian plan:\n${exact.take(3000)}")
    assert(exact.contains("BroadcastNestedLoopJoin"),
      s"q91's bounded sample is not broadcast:\n${exact.take(3000)}")
    Caches.releaseAll(spark)
  }

  test("AQE broadcasts the incremental-minhash batch side at runtime") {
    val plan = finalPlan(Dedup.incrementalMinhash(spark, sfDir))
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("BroadcastHashJoin"),
      s"batch-side band join did not convert to broadcast:\n${plan.take(3000)}")
    Caches.releaseAll(spark)
  }

  test("random projection (q132) is map-only: the sort is the ONLY exchange") {
    // the ±1 matrix is a folded constant; projection must never
    // shuffle — a groupBy/join sneaking in would break the map-only
    // 100 TB contract the scaladoc promises
    import graft.operators.Similarity
    val plan = finalPlan(Similarity.randomProjection(spark, sfDir))
    assert(plan.contains("Sort ["), s"output sort missing:\n$plan")
    assert(Seq("hashpartitioning", "Join", "Aggregate").forall(
      !plan.contains(_)), s"projection is not map-only:\n$plan")
    // (AQE prints the pre- and post-adaptive plan, so the one sort
    // exchange can appear twice — assert the KIND, not the count; a
    // one-split embeddings file sorts in its one task, with none)
    val exchanges = "(?m)^.*Exchange .*$".r.findAllIn(plan).toSeq
      .filterNot(_.contains("Reused"))
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"expected only the output-sort range exchange:\n$exchanges")
    Caches.releaseAll(spark)
  }

  test("PMI pair generation (q138) is row-local: no token self-join") {
    // pairs come from zip_with over shifted slices of the token array;
    // a SortMergeJoin of the exploded token table against itself is
    // the shape this operator exists to avoid
    val plan = finalPlan(TextOps.cooccurrencePmi(spark, sfDir))
    assert(!plan.contains("SortMergeJoin"),
      s"pair generation regressed to a token self-join:\n${plan.take(3000)}")
    Caches.releaseAll(spark)
  }
}
