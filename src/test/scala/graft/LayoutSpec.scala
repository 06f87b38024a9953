package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout

/** Range-sorted parquet layout — the high-cardinality complement of
  * Hive partitioning (PartitioningSpec). The skipping contract is the
  * footer statistics: disjoint, tight per-file key ranges mean a pushed
  * predicate reads O(matching files) at any scale.
  */
class LayoutSpec extends SparkSpec {

  test("range-sorted write: disjoint ordered per-file ranges, no row lost") {
    val dir = tmpDir("layout-lineitem")
    val li = Queries.t(spark, "/root/testdata/sf0.001", "lineitem")
    Layout.writeRangeSorted(li, dir.toString, "l_orderkey", numFiles = 8)

    val ranges = Layout.fileRanges(spark, dir.toString, "l_orderkey")
      .orderBy("lo").collect()
    assert(ranges.length >= 2, "need multiple files for skipping to mean anything")
    // strictly disjoint: repartitionByRange keeps equal keys together,
    // so consecutive files must not overlap even at the boundary key
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(1) > a.getLong(2),
        s"overlap: [${a.getLong(1)},${a.getLong(2)}] then [${b.getLong(1)},${b.getLong(2)}]")
      case _ =>
    }
    assert(ranges.map(_.getLong(3)).sum === li.count())
    // layout changes bytes on disk, never rows
    assert(spark.read.parquet(dir.toString).exceptAll(li).isEmpty)
  }

  test("point predicate: pushed to parquet, and exactly one file's range can match") {
    val dir = tmpDir("layout-orders")
    val orders = Queries.t(spark, "/root/testdata/sf0.001", "orders")
    Layout.writeRangeSorted(orders, dir.toString, "o_orderkey", numFiles = 6)

    val key = orders.agg(max("o_orderkey")).head().getLong(0) / 2
    val probe = spark.read.parquet(dir.toString)
      .filter(col("o_orderkey") === key)
    val plan = probe.queryExecution.executedPlan.toString
    // the predicate reaches the parquet reader -> row-group stats apply
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"), plan)

    // disjointness means at most ONE file's [lo, hi] can contain the key:
    // every other file is skippable from footer stats alone
    val containing = Layout.fileRanges(spark, dir.toString, "o_orderkey")
      .filter(col("lo") <= key && col("hi") >= key).count()
    assert(containing <= 1)
    // and the probe answer matches the unlaid-out table
    assert(probe.count() === orders.filter(col("o_orderkey") === key).count())
  }

  private lazy val implicits0 = spark.implicits
  import implicits0._

  test("morton interleave: hand-checked bit placement") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (0xFFFFFFFFL, 0L))
      .toDF("a", "b")
      .select(Layout.mortonValue(col("a"), col("b")).as("z"))
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq(0L, 1L, 2L, 39L, 0x5555555555555555L))
  }

  test("z-ordered write bounds BOTH keys per file; single-key sort bounds only its own") {
    val li = Queries.t(spark, "/root/testdata/sf0.001", "lineitem")
    def spans(path: String, key: String): Seq[Double] = {
      val global = li.agg(max(col(key)) - min(col(key))).head().getLong(0).toDouble
      Layout.fileRanges(spark, path, key).collect()
        .map(r => (r.getLong(2) - r.getLong(1)) / global).toSeq
    }
    val zDir = tmpDir("layout-z")
    Layout.writeZOrdered(li, zDir.toString, "l_orderkey", "l_partkey", numFiles = 16)
    val oDir = tmpDir("layout-single")
    Layout.writeRangeSorted(li, oDir.toString, "l_orderkey", numFiles = 16)

    def avg(xs: Seq[Double]) = xs.sum / xs.size
    // z-order: EVERY dimension's per-file span is a fraction of global
    assert(avg(spans(zDir.toString, "l_orderkey")) < 0.6,
      s"z layout left orderkey spans wide: ${spans(zDir.toString, "l_orderkey")}")
    assert(avg(spans(zDir.toString, "l_partkey")) < 0.6,
      s"z layout left partkey spans wide: ${spans(zDir.toString, "l_partkey")}")
    // single-key layout: its own key tight, the OTHER key ~full span —
    // the gap z-order exists to close
    assert(avg(spans(oDir.toString, "l_orderkey")) < 0.3)
    assert(avg(spans(oDir.toString, "l_partkey")) > 0.8,
      "single-key layout unexpectedly bounded the second dimension")
    // layout changes bytes, never rows
    assert(spark.read.parquet(zDir.toString).exceptAll(li).isEmpty)
  }

  test("compaction: many small files collapse to the target count, data and ranges intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = tmpDir("compact-in").toString
    val out = tmpDir("compact-out").toString
    // fragment: 64 tiny files
    val df = (0L until 20000L).map(i => (i, s"payload-$i")).toDF("k", "v")
    df.repartition(64).write.mode("overwrite").parquet(in)
    val smallFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(smallFiles === 64)

    val n = Layout.compactRangeSorted(spark, in, out, "k", targetBytes = 256L * 1024)
    val bigFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(bigFiles === n)
    assert(bigFiles < smallFiles, s"$bigFiles !< $smallFiles")

    // data identical
    val a = spark.read.parquet(in).orderBy("k").collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(out).orderBy("k").collect().map(_.toSeq).toSeq
    assert(a === b)

    // range layout restored: per-file key ranges are disjoint
    val ranges = Layout.fileRanges(spark, out, "k")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $hi1 >= $lo2")
      case _ =>
    }
  }
}
