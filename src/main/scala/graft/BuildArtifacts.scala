package graft

/** Explicit stored-artifact build step (r13 verdict #2): pre-builds
  * the shared artifacts for a corpus dir so later query runs —
  * including isolated `SPARK_GRAFT_ONLY` bench runs — pay only the
  * read path, matching their full-pass numbers.
  *
  * Usage (artifact root must be durable, or the build dies with the
  * JVM):
  * {{{
  *   SPARK_GRAFT_ARTIFACT_ROOT=/path/to/artifacts \
  *     sbt "runMain graft.BuildArtifacts /root/testdata/sf0.1"
  * }}}
  * Prints one JSON line per artifact: name, build/read seconds, rows.
  * Idempotent — a second run hits the freshness fingerprints and
  * reads instead of rebuilding (build_sec ≈ 0, `built:false`).
  *
  * SINGLE-WRITER REQUIREMENT (hard): at most ONE process may run
  * BuildArtifacts (or any first-toucher query that triggers a build)
  * against a given SPARK_GRAFT_ARTIFACT_ROOT at a time. The in-JVM
  * lock in [[streaming.LedgerArtifacts]] serializes threads, not
  * processes; a second writing process during a rebuild can observe
  * the delete+rename swap window or race the staging dir. Readers are
  * safe throughout: a committed artifact is only replaced by a fully
  * built one in a two-op swap, and its meta marker commits last.
  */
object BuildArtifacts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    if (!sys.env.contains("SPARK_GRAFT_ARTIFACT_ROOT"))
      System.err.println("WARN: SPARK_GRAFT_ARTIFACT_ROOT not set — " +
        "artifacts land in a per-JVM temp root and die with this process")
    val t0 = System.nanoTime()
    val rows = streaming.Prebuild.all(spark, sfDir)
    val sec = (System.nanoTime() - t0) / 1e9
    rows.foreach { case (name, n, built) =>
      println(s"""{"artifact":"$name","sf":"$sfDir","rows":$n,""" +
        s""""built":${built.isDefined},""" +
        s""""build_sec":${"%.3f".format(built.getOrElse(0.0))}}""")
    }
    println(s"""{"artifact":"ALL","sf":"$sfDir",""" +
      s""""n_artifacts":${rows.size},""" +
      s""""sec":${"%.3f".format(sec)},""" +
      s""""n_built":${rows.count(_._3.isDefined)}}""")
    spark.stop()
  }
}
