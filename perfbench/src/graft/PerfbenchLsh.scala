package graft

import org.apache.spark.sql.DataFrame

/** The engine's candidate-pair estimate, which is package-private to
  * graft, for the benchmark's near-dup layer metrics.
  */
object PerfbenchLsh {
  def estimatedPairs(bk: DataFrame, keys: Seq[String]): Long =
    graft.ops.Lsh.estimatedPairs(bk, keys)
}
