package graft

import org.apache.spark.sql.DataFrame
import graft.ops.Clusters

/** Clusters.connectedComponents: convergence over graphs deeper than the
  * usual near-dup diameter, the maxIter cap, and the reliable-checkpoint
  * mode (taken automatically when the SparkContext has a checkpoint dir).
  *
  * The checkpoint-dir test runs LAST in this suite: setCheckpointDir is
  * SparkContext-global and has no unset, so every CC run after it (in any
  * suite sharing the JVM) takes the reliable path — correctness-neutral,
  * exercised deliberately here.
  */
class ClustersSpec extends SparkSpec {

  /** Path graph 0-1-2-…-n: n edges, diameter n — min-label propagation
    * moves label 0 one hop per round, the worst case for round count.
    */
  private def pathGraph(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("diameter-25 path graph fully converges given enough rounds") {
    // reliable = Some(false) pins the persisted-RDD truncation path so
    // coverage doesn't depend on whether another suite already set a
    // global checkpoint dir
    val cc = labelsOf(
      Clusters.connectedComponents(pathGraph(25), maxIter = 30, reliable = Some(false)))
    assert(cc.size == 26)
    assert(cc.values.forall(_ == 0L), s"unconverged labels: ${cc.filter(_._2 != 0L)}")
  }

  test("maxIter caps the rounds: diameter-25 path is NOT converged at 5") {
    val cc = labelsOf(
      Clusters.connectedComponents(pathGraph(25), maxIter = 5, reliable = Some(false)))
    assert(cc.values.toSet.size > 1,
      "5 rounds converged a diameter-25 path — propagation is not 1 hop/round?")
    // partial progress is still monotone: every label is a valid ancestor
    cc.foreach { case (v, lbl) => assert(lbl <= v) }
  }

  test("per-round join reuses the cached edge partitioning: only the labels side shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // replicate the loop's plan shape at the topology Spark picks when
    // BOTH sides are big (broadcast off — locally Spark would broadcast
    // the tiny cached edges, which is fine but not the shape under
    // test): edges repartitioned on the join key and cached must join
    // with exactly ONE ShuffleExchange — the labels side. A second
    // would mean edges re-shuffle every round and the up-front
    // repartition is wasted. ShuffleExchangeExec nodes are counted in
    // the operator TREE, where the cached relation's build plan is
    // hidden behind the InMemoryTableScan leaf.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val edges = (0 until 200).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
      .repartition(col("b")).persist()
    edges.count()
    try {
      // localCheckpoint mirrors the loop's truncated frames (LogicalRDD)
      val labels = (0 to 200).map(i => (i.toLong, i.toLong)).toDF("v", "lbl")
        .localCheckpoint(true)
      val joined = edges
        .join(labels.select(col("v").as("b"), col("lbl").as("nlbl")), "b")
        .select(col("a").as("v"), col("nlbl").as("lbl"))
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size == 1,
        s"expected exactly 1 shuffle (labels side), found ${shuffles.size}:\n$plan")
      // and that one shuffle must be on the labels (ExistingRDD) side
      assert(shuffles.head.toString.contains("ExistingRDD"),
        s"the single shuffle is not the labels side:\n$plan")
    } finally {
      edges.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("a failing input releases the edge cache and every round's blocks") {
    import org.apache.spark.sql.functions._
    // one row raises when evaluated, so an action inside the loop throws
    // (a range, not a local Seq, which the optimizer would fold at plan time)
    val bad = spark.range(25L).select(col("id").as("a"),
      when(col("id") === 7L, raise_error(lit("bad edge"))).otherwise(col("id") + 1).as("b"))
    val e = interceptReleasing("connectedComponents") {
      Clusters.connectedComponents(bad, reliable = Some(false)).collect()
    }
    assert(e.getMessage.contains("bad edge") ||
      Option(e.getCause).exists(_.getMessage.contains("bad edge")), e.toString)
  }

  test("a failing input releases lshDedupClusters' edges") {
    import org.apache.spark.sql.functions._
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val bad = docs.withColumn("text",
      when(col("doc_id") === 3L, raise_error(lit("bad doc"))).otherwise(col("text")))
    interceptReleasing("lshDedupClusters")(graft.ops.NearDup.lshDedupClusters(bad).collect())
  }

  test("Sessions.builder wires an explicit/env checkpoint dir into spark.checkpoint.dir") {
    // In a fresh JVM SparkContext reads spark.checkpoint.dir at startup
    // and calls setCheckpointDir itself; under the suite's shared context
    // we can only assert the conf plumbing (the runtime effect — CC taking
    // the reliable path when a dir is set — is the test below). The
    // builder's pending options are private[sql]; read via reflection.
    def opts(b: Any): Map[String, String] =
      b.getClass.getMethod("options").invoke(b)
        .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
    val withDir = graft.etl.Sessions.builder(checkpointDir = Some("/tmp/graft-ckpt-conf"))
    assert(opts(withDir).get("spark.checkpoint.dir").contains("/tmp/graft-ckpt-conf"))
    val without = graft.etl.Sessions.builder(checkpointDir = None)
    assert(!opts(without).contains("spark.checkpoint.dir"))
  }

  test("reliable checkpoint mode: correct labels, files written, superseded rounds deleted") {
    val dir = tmpDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val cc = labelsOf(Clusters.connectedComponents(pathGraph(25), maxIter = 30))
    assert(cc.size == 26 && cc.values.forall(_ == 0L))
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq
    // every superseded round's checkpoint is deleted on release; only the
    // final label frame's files may remain — ~27 rounds of a diameter-25
    // path would otherwise leave ~27 snapshots
    assert(rddDirs.nonEmpty, s"no rdd-* checkpoint files under $dir")
    assert(rddDirs.size == 1,
      s"superseded checkpoints not cleaned: ${rddDirs.size} rdd-* dirs under $dir")
  }

  test("sizesViaAgg escape hatch: identical results, window-free size plan") {
    // the skew escape hatch (groupBy + join-back instead of the window)
    // must be a pure plan swap: same rows out of both q64's and q68's
    // bodies, and the viaAgg plan must actually avoid the window operator
    // whose single-partition-per-cluster behavior it exists to escape
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaWindow = Clusters.embedDupClusters(emb).collect().toSeq
    val viaAgg = Clusters.embedDupClusters(emb, sizesViaAgg = true).collect().toSeq
    assert(viaAgg.nonEmpty && viaAgg == viaWindow,
      "sizesViaAgg must not change embedDupClusters results")

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w2 = graft.ops.NearDup.lshDedupClusters(docs).collect().toSeq
    val a2 = graft.ops.NearDup.lshDedupClusters(docs, sizesViaAgg = true).collect().toSeq
    assert(a2.nonEmpty && a2 == w2,
      "sizesViaAgg must not change lshDedupClusters results")

    val aggPlan = Clusters.embedDupClusters(emb, sizesViaAgg = true)
      .queryExecution.optimizedPlan.toString
    assert(!aggPlan.contains("windowspecdefinition"),
      s"viaAgg size computation must not contain a window:\n$aggPlan")
    val winPlan = Clusters.embedDupClusters(emb)
      .queryExecution.optimizedPlan.toString
    assert(winPlan.contains("windowspecdefinition"),
      "the default (shipped) plan keeps the one-exchange window shape")
  }
}
