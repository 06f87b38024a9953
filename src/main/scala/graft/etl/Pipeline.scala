package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end loan ETL — the reference's `run_loan_spark_etl`
  * (/root/reference/airflow/include/loan_spark_etl.py:134-189):
  *
  *   read CSV glob → empty guard → mode-impute nulls → date split →
  *   write cleaned parquet + write grouped aggregates parquet.
  *
  * Scale-relevant departures from the reference (the same rows in the same
  * order; the parquet nullability flags follow the plan — a column filled
  * from a mode is written `required`, a column that had no nulls
  * `optional` — and Spark reads both back as nullable):
  *   - the CSVs are parsed ONCE per run: one parallel action fills a cache
  *     of the parsed frame, and the modes, the cleaned write and the
  *     aggregates all read that cache — the reference re-reads every CSV
  *     for each mode job and again for the aggregate write
  *     (SURVEY.md §4 "Caching / reuse");
  *   - that action also takes the census — the row count and each fillable
  *     column's null count, counted in the same scan — which stands in for
  *     the `isEmpty` guard (loan_spark_etl.py:157-160) and a trailing
  *     row count;
  *   - imputation is the single-pass variant (one job, not one per column),
  *     melting only the columns the census found nulls in: `coalesce` over
  *     a null-free column is the identity, so the output does not change;
  *   - `coalesce(1)` stays behind the same flag as the reference
  *     (loan_spark_etl.py:139). It reads the cache, so the parse stays
  *     parallel, but a single output file still means a single writing
  *     task: turn it OFF at scale.
  */
object Pipeline {

  final case class Result(cleanedPath: String, aggregatesPath: String,
      rowCount: Long)

  /** Row count and null count per fillable column of the parsed input. */
  private final case class Census(rows: Long, nulls: Map[String, Long])

  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      coalesceOutput: Boolean = true,
      // The reference ETL reads every CSV in the dir (loan_spark_etl.py:155)
      // because the DAG's admission filter (loan_ prefix) runs upstream —
      // see graft.ingest.FileIngest. Tighten here when running without the
      // ingest stage, e.g. "loan_*.csv".
      globPattern: String = "*.csv"): Option[Result] = {

    // the files the glob matches, listed by the same Hadoop call Spark's
    // own glob makes, so the scan sees them in the same order; handing
    // Spark the glob path itself makes its metadata-dir probe log a
    // warning with a stack trace on every run
    val glob = new Path(s"$inputDir/$globPattern")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pattern = fs.makeQualified(glob)
    val files = Option(fs.globStatus(pattern)).toSeq.flatten.map(_.getPath.toString)
    if (files.isEmpty) throw new java.io.FileNotFoundException(s"no file matches $pattern")
    val raw = spark.read
      .option("header", true)
      .option("inferSchema", true)
      .csv(files: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val census = takeCensus(raw)
      if (census.rows == 0) return None

      val withNulls = census.nulls.collect { case (c, n) if n > 0 => col(c) }.toSeq
      val cleaned = Dates.transform(
        Impute.fillWith(raw, Impute.modes(raw.select(withNulls: _*))))

      val cleanedPath = s"$outputDir/cleaned"
      val aggregatesPath = s"$outputDir/aggregates"

      // coalesce(1) over the cache keeps the CSV scan's partition order
      val cleanedOut = if (coalesceOutput) cleaned.coalesce(1) else cleaned
      cleanedOut.write.mode(SaveMode.Overwrite).parquet(cleanedPath)

      val aggDf = Aggregates.build(cleaned)
      val aggOut = if (coalesceOutput) aggDf.coalesce(1) else aggDf
      aggOut.write.mode(SaveMode.Overwrite).parquet(aggregatesPath)

      Some(Result(cleanedPath, aggregatesPath, census.rows))
    } finally raw.unpersist()
  }

  /** Fills `raw`'s cache and counts it in the same job: one scan of the
    * null flags of the fillable columns, tallied per partition into
    * accumulators (exact: they are updated in an action). A global
    * aggregate would add an exchange and, under AQE, more jobs; an
    * `Observation` would leave a listener on the session that re-analyses
    * every later failed query and logs an ERROR stack trace for it.
    */
  private def takeCensus(raw: DataFrame): Census = {
    val sc = raw.sparkSession.sparkContext
    val fillCols = raw.schema.fields
      .filter(f => Impute.fillable(f.dataType)).map(_.name).toSeq
    val rows = sc.longAccumulator("etl census rows")
    val nulls = fillCols.map(c => sc.longAccumulator(s"etl census nulls $c"))
    raw.select(fillCols.map(c => col(c).isNull): _*).foreachPartition {
      (it: Iterator[Row]) =>
        val n = new Array[Long](nulls.length)
        var count = 0L
        it.foreach { r =>
          count += 1
          for (k <- n.indices if r.getBoolean(k)) n(k) += 1
        }
        rows.add(count)
        for (k <- n.indices) nulls(k).add(n(k))
    }
    Census(rows.sum, fillCols.zip(nulls.map(_.sum)).toMap)
  }
}
