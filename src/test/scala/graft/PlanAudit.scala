package graft

/** Plan-shape probe for newly added families (test scope, not
  * shipped): prints exchange/broadcast/pushdown counts from the
  * pre-execution physical plan. Counts over-report reused persisted
  * subtrees (the textual tree repeats them); use for eyeballing plan
  * regressions, not as a gate. Run with
  *   sbt "Test/runMain graft.PlanAudit"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    val d = "/root/testdata/sf0.01"
    for ((n, q) <- Seq(
      "q381" -> operators.Basket.brandAffinity(spark, d),
      "q368" -> operators.Analytics.idleBalanceAudit(spark, d),
      "q371" -> operators.Analytics.volumeShipping(spark, d),
      "q376" -> operators.Audit.completeness(spark, d),
      // round 14: the erasure plan reads the artifact + two narrow
      // scans; the cascade and retraction queries must reach lineitem
      // through BROADCAST semi/anti joins (erased key sets are tiny)
      "q386" -> streaming.Erasure.erasurePlan(spark, d),
      "q404" -> streaming.UserErasure.cascadePlan(spark, d),
      "q408" -> streaming.UserErasure.cascadeValueMass(spark, d),
      "q409" -> operators.JoinPlanner.joinStatsPlanner(spark, d),
      "q410" -> operators.Retraction.retractablePricing(spark, d),
      "q396" -> operators.Curriculum.curationOptimizer(spark, d),
      "q399" -> operators.RetrievalEval.precisionRecall(spark, d),
      // round 15: layout/metadata families — the audits join tiny
      // predicate/manifest relations via BROADCAST against per-file
      // metadata; the advisor runs three audits in one plan
      "q440" -> operators.ZoneMap.zonemapSkipAudit(spark, d),
      "q449" -> operators.ZoneMap.clusterKeyAdvisor(spark, d),
      "q445" -> operators.Anonymity.kanonGeneralize(spark, d),
      "q460" -> operators.PartitionEvolution
        .partitionEvolutionScan(spark, d),
      "q464" -> operators.DeletionVectors.dvReadParity(spark, d))) {
      val p = q.queryExecution.executedPlan.toString
      val shuffles = "Exchange".r.findAllIn(p).length
      val bcasts = "BroadcastExchange".r.findAllIn(p).length
      val pushed = p.linesIterator.filter(_.contains("PushedFilters: [")).count(l => !l.contains("PushedFilters: []"))
      println(s"$n: exchanges=$shuffles broadcasts=$bcasts pushedScanLines=$pushed wholeStage=${"WholeStageCodegen".r.findAllIn(p).length}")
    }
    spark.stop()
  }
}
