package graft.etl

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the reference's semantic configs
  * (/root/reference/airflow/include/loan_spark_etl.py:27-45): UTC session
  * timezone, CORRECTED parquet datetime rebase, LEGACY lenient time parser.
  *
  * On top, scale-oriented defaults the reference leaves untuned: AQE on and
  * shuffle partitions sized to the machine instead of Spark's default 200
  * (SURVEY.md §4 "Shuffle partitioning").
  *
  * `SPARK_GRAFT_CHECKPOINT_DIR` (env var, optional): sets
  * `spark.checkpoint.dir`, which makes iterative jobs —
  * [[graft.ops.Clusters.connectedComponents]] — reliably checkpoint each
  * round's labels to the filesystem instead of only persisting blocks.
  * On a real cluster point it at durable shared storage (HDFS/object
  * store) so an executor loss mid-iteration replays from the checkpoint
  * rather than aborting the whole job; unset, CC falls back to
  * persisted-RDD lineage truncation (fine locally).
  */
object Sessions {

  def builder(appName: String = "LoanSparkETL", master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      checkpointDir: Option[String] = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // testdata events.ts has shipped as TIMESTAMP(NANOS) and as micros
      // TIMESTAMP_NTZ: nanosAsLong keeps a nanos file readable (arrives as
      // long), and Queries.t normalizes every stored shape under UTC
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL-text names for graft's native expressions (vec_dot); the
      // Scala Column API works without this (graft.functions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // reliable checkpoints (Ranks, Clusters) are deleted once their
      // RDDs are GC'd — without this every withNtile call under a
      // checkpoint dir leaks its directory forever (the r14 advisory)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    checkpointDir.fold(b)(dir => b.config("spark.checkpoint.dir", dir))
  }

  /** Local cores for every main: `SPARK_GRAFT_CPUS`, default 4. Sizes
    * both `local[N]` and the shuffle partitions.
    */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The session every `main` runs on: [[builder]] at `local[cpus]` with
    * `cpus` shuffle partitions, logging at WARN. Tests and the benchmark
    * harness call [[builder]] directly with their own core count.
    */
  def start(appName: String): SparkSession = {
    val spark = builder(appName, s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
