package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Hot-bucket micro-bench for the streaming near-dup state operators:
  * N identical documents land in ONE band bucket within a single batch
  * (state starts empty — the exact shape where the round-5 code did
  * O(N²) compares over an unbounded buffer, because its `maxPerBucket`
  * cap applied only between invocations). With the cap enforced inside
  * the arrival loop, compares are O(N × cap) and wall time must grow
  * ~linearly in N; quadratic growth here is a regression in the bound.
  *
  * Usage: `runMain graft.streaming.StreamBench [n1 n2 ...]`
  * (default 2000 4000 8000, cap 256). Emits one line per N.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(2000, 4000, 8000)
    val spark = graft.etl.Sessions.start("GraftStreamBench")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // untimed warmup absorbs codegen/state-store init
    run(spark, base, 500)
    import graft.Bench.fmt
    val results = sizes.map { n =>
      val t0 = System.nanoTime()
      val rows = run(spark, base, n)
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"hot_bucket_n":$n,"rows":$rows,"sec":${fmt(sec, 2)}}""")
      (n, sec)
    }
    // growth factor per doubling — ~2 is linear, ~4 is quadratic
    results.sliding(2).foreach {
      case Seq((n1, s1), (n2, s2)) =>
        println(s"""{"growth":"$n1->$n2","data_x":${fmt(n2.toDouble / n1, 1)},"time_x":${fmt(s2 / s1, 2)}}""")
      case _ => ()
    }
    spark.stop()
  }

  private def docs(spark: SparkSession, base: String, n: Int) =
    spark.range(1, n + 1).select(
      col("id").as("doc_id"),
      lit(base).as("text"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"))

  private def run(spark: SparkSession, base: String, n: Int): Long =
    StreamingEtl.streamingNearDup(docs(spark, base, n), maxPerBucket = 256).count()
}
