// Same package-tree hosting rationale as VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension wiring: exposes the native expressions to the SQL
  * text surface, installs the HOF-dot-product rewrite
  * ([[RewriteHofDotProduct]]) and the one-split scan planner strategy
  * ([[SingleSplitScans]]). Two registration paths:
  *
  *  - build-time: `withExtensions(new GraftExtensions)` on a session
  *    builder (or `spark.sql.extensions=...GraftExtensions`), for a
  *    session someone else builds;
  *  - runtime: [[GraftFunctions.register]] on an existing session. Every
  *    session graft builds ([[graft.Sessions]]: the mains and the tests)
  *    and the perfbench harness session take this path, which puts the
  *    rewrite in `extraOptimizations` rather than the injected-rule batch.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => RewriteHofDotProduct)
    e.injectPlannerStrategy(_ => SingleSplitScans)
  }
}

object GraftFunctions {

  // kernel knobs (perms/k/w) arrive from SQL text as foldable literals;
  // reject anything else with an error that names the requirement
  // instead of an opaque eval/NPE failure at plan time
  private def intArg(fn: String, knob: String)(e: Expression): Int = {
    val v =
      if (e.foldable) e.eval()
      else throw new IllegalArgumentException(
        s"$fn: $knob must be a literal integer, got non-foldable ${e.sql}")
    v match {
      case n: Number if n.intValue > 0 => n.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: $knob must be a positive integer literal, got $other")
    }
  }

  private[graft] val builders:
      Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("dot_product", classOf[DotProduct],
        (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
      ("shingle_hashes", classOf[ShingleHashes],
        (exprs: Seq[Expression]) => ShingleHashes(exprs(0),
          intArg("shingle_hashes", "n")(exprs(1)))),
      ("minhash_signature", classOf[MinHashSignature],
        (exprs: Seq[Expression]) => MinHashSignature(exprs(0),
          intArg("minhash_signature", "perms")(exprs(1)))),
      ("simhash64", classOf[SimHash64],
        (exprs: Seq[Expression]) => SimHash64(exprs(0))),
      ("winnow_hashes", classOf[WinnowHashes],
        (exprs: Seq[Expression]) => WinnowHashes(exprs(0),
          intArg("winnow_hashes", "k")(exprs(1)),
          intArg("winnow_hashes", "w")(exprs(2)))))

  private[graft] val descriptors = builders.map { case (name, cls, builder) =>
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getCanonicalName, name),
      builder)
  }

  /** Runtime registration on an existing session: the SQL functions,
    * the HOF-dot-product rewrite rule and the one-split scan strategy
    * (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    val existing = spark.experimental.extraOptimizations
    if (!existing.contains(RewriteHofDotProduct))
      spark.experimental.extraOptimizations = existing :+ RewriteHofDotProduct
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(SingleSplitScans))
      spark.experimental.extraStrategies = strategies :+ SingleSplitScans
  }
}
