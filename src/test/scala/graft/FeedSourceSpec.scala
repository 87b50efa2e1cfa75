package graft

import org.apache.spark.sql.functions._

import graft.functions.{SlotFoldAggregator, SlotFoldInput}

class FeedSourceSpec extends SparkSpec {

  private def feed = spark.read
    .format("graft.sources.feed.FeedTableProvider")
    .option("rows", "10000").option("parts", "4").load()

  test("DSv2 feed source generates the full id range") {
    assert(feed.count() == 10000)
    val r = feed.agg(min(col("id")), max(col("id"))).head()
    assert(r.getLong(0) == 0 && r.getLong(1) == 9999)
  }

  test("keyset filter is pushed into partition planning") {
    val tail = feed.filter(col("id") > 9990)
    assert(tail.count() == 9)
    // pushed lower bound => at most `parts` partitions over a 9-row span,
    // and the physical plan shows the scan's pushed lower bound
    val desc = tail.queryExecution.executedPlan.toString
    assert(desc.contains("graft_feed"))
    val partsUsed = tail.rdd.getNumPartitions
    assert(partsUsed <= 4)
  }

  test("row function is deterministic") {
    val r = feed.filter(col("id") === 1234).head()
    assert(r.getAs[Long]("k") == 1234L * 31 % 1000)
    assert(r.getAs[String]("category") == "u34")
  }

  test("dot_product is callable from the SQL text surface") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 11.0)
  }

  test("text kernels are callable from the SQL text surface") {
    val sh = spark.sql(
      "SELECT size(shingle_hashes('a b c d', 3)) AS n").head()
    assert(sh.getInt(0) == 2) // "a b c", "b c d"
    val sim = spark.sql(
      "SELECT simhash64('a b c') = simhash64('a b c') AS eq, " +
        "simhash64('') IS NULL AS empty_null").head()
    assert(sim.getBoolean(0) && sim.getBoolean(1))
    val wn = spark.sql(
      "SELECT size(winnow_hashes('a b c d e f', 3, 2)) AS n").head()
    assert(wn.getInt(0) >= 1)
    val mh = spark.sql(
      "SELECT size(minhash_signature(array('x', 'y'), 16)) AS n").head()
    assert(mh.getInt(0) == 16)
  }

  test("extensions class wires dot_product at session build") {
    // getOrCreate would hand back the shared session and drop the
    // extension; create() builds a real one on the running context, and
    // becomes the default/active session until restored below
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .create()
    try {
      val r = s2.sql(
        "SELECT dot_product(array(2.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
      assert(r.getDouble(0) == 14.0)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("typed slot-fold aggregator: arrival order, 10-slot split") {
    import spark.implicits._
    val in = Seq(
      SlotFoldInput(1L, 2L, Seq("c", "d")),
      SlotFoldInput(1L, 1L, Seq("a", "b", "a")),
      SlotFoldInput(2L, 1L, (1 to 15).map(i => s"t$i")))
      .toDS()
    val out = in.groupByKey(_.user_id)
      .agg(SlotFoldAggregator.toColumn.name("f"))
      .collect().toMap
    assert(out(1L).slots == "a|b|c|d")
    assert(out(1L).overflow == "")
    assert(out(2L).slots == (1 to 10).map(i => s"t$i").mkString("|"))
    assert(out(2L).overflow == (11 to 15).map(i => s"t$i").mkString(","))
  }
}
