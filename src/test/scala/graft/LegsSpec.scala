package graft

import org.apache.spark.TaskContext
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.ops.Legs

/** [[graft.ops.Legs]]: concurrent legs fail fast and leave no job behind. */
class LegsSpec extends SparkSpec {

  test("a failing leg rethrows its own error and cancels a sibling's running job") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Legs.run(sc)(
        () => {
          // fail only once the sibling's job is running
          while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(20)
          throw new IllegalStateException("leg failed")
        },
        () => sc.parallelize(1 to 2, 2).map { i =>
          // two minutes unless the task is killed
          val tc = TaskContext.get()
          val end = System.nanoTime() + 120L * 1000000000L
          while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
          i
        }.count())
    }
    assert(e.getMessage === "leg failed")
    assert((System.nanoTime() - t0) / 1e9 < 60.0, "the sibling's job ran to completion")
    // the job-end event reaches the status store through the listener bus
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}
