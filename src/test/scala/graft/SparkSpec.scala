package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per forked test run). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    graft.etl.Sessions.builder("graft-test", "local[4]", 4).getOrCreate()

  override def afterAll(): Unit = {
    // deliberately do NOT stop the session: suites share it
    super.afterAll()
  }

  /** Runs `body`, which must throw, starting from an empty CacheManager,
    * and checks that the failure left no frame cached and no RDD
    * persisted that was not persisted before the call.
    */
  def interceptReleasing(label: String)(body: => Any): Exception = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keys.toSet
    val e = intercept[Exception](body)
    assert(spark.sharedState.cacheManager.isEmpty, s"$label: a failure left a frame cached")
    val leaked = spark.sparkContext.getPersistentRDDs.keys.toSet -- before
    assert(leaked.isEmpty, s"$label: a failure left RDDs $leaked persisted")
    e
  }

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  def writeFile(dir: java.nio.file.Path, name: String, content: String): java.nio.file.Path =
    java.nio.file.Files.writeString(dir.resolve(name), content)

  /** Leaves of an EXECUTED plan, unwrapped through AQE's
    * AdaptiveSparkPlanExec / QueryStageExec shells — the walker plan
    * specs need because an InMemoryRelation PRINTS its cache-build plan
    * (string-grepping for scans overcounts) while the true executed
    * tree ends at InMemoryTableScan leaves.
    */
  def planLeaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collectLeaves().flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planLeaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        planLeaves(q.plan)
      case l => Seq(l)
    }
}
