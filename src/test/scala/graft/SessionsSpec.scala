package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graft.{RewriteHofDotProduct, SingleSplitScans}

/** Drift guard: the test suite, the mains and the perfbench harness
  * plan with one session configuration, the one [[Sessions]] builds.
  */
class SessionsSpec extends SparkSpec {

  test("the shared test session is the shipped session") {
    Sessions.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.experimental.extraStrategies.contains(SingleSplitScans))
    assert(spark.experimental.extraOptimizations
      .contains(RewriteHofDotProduct))
  }

  test("the perfbench harness sets the builder's confs") {
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/harness/Harness.scala")), StandardCharsets.UTF_8)
    val harness = """\.config\("([^"]+)",\s*([^)]+)\)""".r
      .findAllMatchIn(src).map(m => m.group(1) -> m.group(2).trim).toSeq
    // the harness passes its core count where the builder takes `cpus`
    val cores = 7
    val expected = Sessions.confs(cores).map { case (k, v) =>
      k -> (if (v == cores.toString) "a.cpus.toString" else "\"" + v + "\"")
    }
    assert(harness.sorted == expected.sorted)
    assert(src.contains("""master(s"local[${a.cpus}]")"""))
    assert(src.contains("GraftFunctions.register(spark)"))
  }
}
