package graft

/** Plan-quality diagnostic: prints the formatted physical plan of the
  * registered queries whose names start with one of the arguments, or
  * of every registered query when there are none. Used to audit that
  * filters reach the scan (PushedFilters), projections prune
  * (ReadSchema), dimension joins broadcast, and expressions stay inside
  * WholeStageCodegen.
  * `sbt "runMain graft.Explain q91 q33"`; the corpus is
  * `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        println(s"========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
        Caches.releaseAll(spark)
      }
    spark.stop()
  }
}
