package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Contract spec for the shared dup-graph edge artifact
  * ([[Dedup.dupEdgesAt]]): the ten-query family (q148/q160/q183/q186/
  * q193/q197/q204/q212/q226/q254/q327) rides ONE persisted
  * minhash→banding→verify build instead of re-deriving it per report.
  *
  *  1. Read-path parity — artifact rows are bit-identical to the
  *     standalone oracled chain (so every consumer's DuckDB oracle is
  *     unchanged).
  *  2. Build-once — a second call over the same corpus reads, never
  *     rebuilds.
  *  3. Freshness — changing the corpus under the SAME artifact path
  *     (the daily-crawl append) triggers a rebuild whose content
  *     matches the new corpus's standalone chain.
  */
class DupGraphArtifactSpec extends SparkSpec {

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"),
        format_number(col("jaccard"), 9).as("j"))
      .orderBy(col("id_a"), col("id_b"))
      .collect().toSeq

  test("artifact read path is bit-identical to the standalone chain") {
    val docs = Tables.documents(spark, sfDir)
    val path = SparkSpec.tempDir("graft_edge_spec_").toString + "/art"
    try {
      val art = sortedRows(Dedup.dupEdgesAt(spark, docs, path))
      val standalone = sortedRows(Dedup.minhashOracledDf(docs))
      assert(standalone.nonEmpty, "fixture corpus must have dup pairs")
      assert(art == standalone)
    } finally Caches.deleteTree(java.nio.file.Paths.get(path).getParent)
  }

  test("second call reads the artifact instead of rebuilding") {
    val docs = Tables.documents(spark, sfDir)
    val path = SparkSpec.tempDir("graft_edge_spec_").toString + "/art"
    try {
      Dedup.dupEdgesAt(spark, docs, path).count()
      val builds = Dedup.dupEdgeBuildCount
      Dedup.dupEdgesAt(spark, docs, path).count()
      assert(Dedup.dupEdgeBuildCount == builds,
        "same corpus + same path must not rebuild")
    } finally Caches.deleteTree(java.nio.file.Paths.get(path).getParent)
  }

  test("corpus change under the same path forces a rebuild") {
    val docs = Tables.documents(spark, sfDir)
    val subset = docs.filter(col("doc_id") % 2 === 0)
    val path = SparkSpec.tempDir("graft_edge_spec_").toString + "/art"
    try {
      Dedup.dupEdgesAt(spark, subset, path).count()
      val builds = Dedup.dupEdgeBuildCount
      // the "append" — same path, grown corpus: stale fingerprint
      val art = sortedRows(Dedup.dupEdgesAt(spark, docs, path))
      assert(Dedup.dupEdgeBuildCount == builds + 1,
        "fingerprint mismatch must trigger a rebuild")
      assert(art == sortedRows(Dedup.minhashOracledDf(docs)))
    } finally Caches.deleteTree(java.nio.file.Paths.get(path).getParent)
  }
}
