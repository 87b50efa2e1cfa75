package graft

/** Ad-hoc scale probe for the q124 k-means family (test scope, not
  * shipped): times the capped oracle shape against the uncapped
  * production path on the 200k-vector sf0.1 fixture. Run with
  *   sbt "Test/runMain graft.KmeansScaleProbe [sfDir]"
  * Numbers are recorded in COVERAGE.md ("Measured scale growth").
  */
object KmeansScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32)
    def time(label: String)(thunk: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = thunk
      println(f"$label rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      Caches.releaseAll(spark)
    }
    time("CAPPED2000") {
      operators.Similarity.kmeansAssign(spark, sfDir).count()
    }
    time("UNCAPPED") {
      operators.Similarity.kmeansAssign(spark, sfDir, 8, 2,
        Long.MaxValue).count()
    }
    time("UNCAPPED_K64") {
      operators.Similarity.kmeansAssign(spark, sfDir, 64, 2,
        Long.MaxValue).count()
    }
    spark.stop()
  }
}
