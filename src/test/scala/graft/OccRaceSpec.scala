package graft

import org.apache.spark.sql.functions._

import graft.streaming.{Occ, Provenance}

/** The OCC protocol under GENUINE concurrency: 7 writer threads race
  * `tryCommit` (stage → conflict-check → rename) against one ledger.
  * Claims pinned here, none of which a serial replay can exercise:
  * exactly one winner per version number; the duplicate-keyset pair
  * resolves to one commit + one abort under every interleaving; a
  * concurrent reader always sees a readable, monotonically-growing
  * committed prefix (rename atomicity — never a torn or half-staged
  * version); the stored `_changeset` trail equals the adjacent-version
  * diff (serial-equivalence of the raced history); and the retry loop
  * terminates well inside its bound.
  */
class OccRaceSpec extends SparkSpec {

  test("raced writers: one winner per version, duplicate resolves " +
      "to one commit, reader never sees a torn version") {
    val root = Caches.trackTempDir(
      SparkSpec.tempDir("graft_occ_race_spec_")).toString +
      "/balances"

    // concurrent reader: polls the committed-version listing during
    // the race; every listed version must be readable (a rename that
    // exposed a half-written dir would throw) and the committed count
    // must never go backwards
    @volatile var stop = false
    @volatile var readerFailure: Option[String] = None
    @volatile var polls = 0
    val reader = new Thread(() => {
      var last = 0
      while (!stop && readerFailure.isEmpty) {
        try {
          val vs = Provenance.committedVersions(spark, root)
          if (vs.size < last)
            readerFailure = Some(
              s"committed count went backwards: ${vs.size} < $last")
          last = math.max(last, vs.size)
          vs.lastOption.foreach { case (_, _, path) =>
            // a committed version must be fully readable at all times
            spark.read.parquet(path).count()
          }
          polls += 1
        } catch {
          case t: Throwable =>
            readerFailure = Some(s"reader saw torn state: $t")
        }
        Thread.sleep(10)
      }
    })
    reader.start()
    val attempts = try Occ.runRace(spark, sfDir, root)
    finally { stop = true; reader.join(10000) }

    assert(readerFailure.isEmpty, readerFailure.getOrElse(""))
    assert(polls > 0, "reader must have raced the writers")

    // exactly 6 commits, 1 abort, and the abort is one of the
    // class-0 pair with its whole write set conflicting
    val (aborted, committed) = attempts.partition(_.outcome == "aborted")
    assert(committed.size == 6)
    assert(aborted.size == 1)
    assert(Set("w0", "dup").contains(aborted.head.writer))
    assert(aborted.head.nConflictKeys == aborted.head.nDeltaKeys)
    assert(aborted.head.nDeltaKeys > 0)

    // one winner per version: the six commit versions are exactly 1..6
    assert(committed.map(_.commitVersion).sorted == (1L to 6L).toSeq)
    val versions = Provenance.committedVersions(spark, root)
    assert(versions.map(_._1) == (0L to 6L).toSeq)

    // serial-equivalence: each version's stored _changeset equals the
    // adjacent-version diff (keys whose value changed)
    versions.filter(_._1 > 0).foreach { case (v, _, path) =>
      val parent = versions.filter(_._1 < v).maxBy(_._1)._3
      val stored = spark.read.parquet(s"$path/_changeset")
        .select(col("c_custkey"))
      val prev = spark.read.parquet(parent)
        .select(col("c_custkey"), col("n_orders").as("p"))
      val diffed = spark.read.parquet(path)
        .join(prev, Seq("c_custkey"))
        .filter(col("p") =!= col("n_orders"))
        .select(col("c_custkey"))
      assert(stored.count() == diffed.count(), s"version $v")
      assert(stored.join(diffed, Seq("c_custkey"), "left_anti")
        .count() == 0L, s"version $v changeset mismatch")
    }

    // the deterministic end state: base + 10·(class+1) on every key
    val base = spark.read.parquet(versions.head._3)
      .select(col("c_custkey"), col("n_orders").as("b"))
    val fin = spark.read.parquet(versions.maxBy(_._1)._3)
    val wrong = fin.join(base, Seq("c_custkey"))
      .filter(col("n_orders") =!=
        col("b") + (col("c_custkey") % 6 + 1L) * 10L)
      .count()
    assert(wrong == 0L)
    assert(fin.count() == base.count())
    Caches.releaseAll(spark)
  }
}
