package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** Shared-artifact freshness (r18 verdict #4): the build-once drained
  * state is keyed by a corpus fingerprint over EVERY column the fold
  * consumes — a regenerated corpus that preserves the identity keys
  * but moves a payload column (here: event timestamps) must REBUILD
  * the artifact, never serve the stale drain.
  */
class ArtifactFreshnessSpec extends SparkSpec {

  /** Write `df` as a single `<dir>/events.parquet` file (the fixture
    * layout Tables.events and the streaming sources expect).
    */
  private def writeEvents(dir: Path, dayOffset: Int): Unit = {
    import scala.jdk.CollectionConverters._
    Files.createDirectories(dir)
    val df = spark.range(120).select(
      col("id").as("event_id"),
      expr(s"timestampadd(DAY, cast(${dayOffset} + id % 5 as int), " +
        "timestamp'2024-03-01 00:00:00')").as("ts"),
      (col("id") % 7).as("user_id"),
      when(col("id") % 3 === 0, "view").otherwise("click")
        .as("event_type"),
      (col("id") % 10).cast("double").as("value"),
      lit("{}").as("props"))
    val staging = SparkSpec.tempDir("graft_fresh_staging_")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    val dest = dir.resolve("events.parquet")
    Files.deleteIfExists(dest)
    Files.move(part, dest)
    Caches.trackTempDir(staging)
  }

  test("payload-only corpus change rebuilds the shared drained state") {
    // NOT tracked up front: the mid-test releaseAll must not delete
    // the corpus between the two drains; tracked at the end instead
    val dir = SparkSpec.tempDir("graft_fresh_corpus_")
    writeEvents(dir, dayOffset = 0)
    val before = streaming.StreamingOps
      .streamingGrowth(spark, dir.toString)
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).sorted
    Caches.releaseAll(spark)
    // same event_ids and user_ids, every timestamp shifted forward —
    // under a key-only fingerprint this served the STALE day grid
    writeEvents(dir, dayOffset = 40)
    val after = streaming.StreamingOps
      .streamingGrowth(spark, dir.toString)
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).sorted
    Caches.releaseAll(spark)
    Caches.trackTempDir(dir)
    assert(before.nonEmpty && after.nonEmpty)
    assert(before.toSet.intersect(after.toSet).isEmpty,
      s"stale shared artifact served: days ${before.mkString(",")} vs " +
        s"${after.mkString(",")}")
  }
}
