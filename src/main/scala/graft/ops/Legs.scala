package graft.ops

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.SparkContext

/** Concurrent query legs: independent multi-action pipelines built on
  * their own driver threads, so each leg's jobs back-fill executors freed
  * by another leg's tail instead of serializing driver-paced job chains
  * (guide §2.6 — overlap independent jobs).
  */
private[graft] object Legs {

  /** Runs every leg on its own thread and returns their results in leg
    * order. Each leg's Spark jobs carry one job tag unique to this call.
    * On the first leg failure the tag's jobs are cancelled (again on
    * every poll, so a sibling between two jobs cannot start a fresh one
    * unseen), the siblings are waited out, and that first failure is
    * rethrown. The pool is always shut down.
    */
  def run[A](sc: SparkContext)(legs: (() => A)*): Seq[A] = {
    val tag = s"graft-legs-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(legs.size)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = legs.map(leg => done.submit(() => { sc.addJobTag(tag); leg() }))
      var failure: Option[Throwable] = None
      var left = legs.size
      while (left > 0) {
        failure.foreach(_ => sc.cancelJobsWithTag(tag))
        val f = if (failure.isEmpty) done.take() else done.poll(100, TimeUnit.MILLISECONDS)
        if (f != null) {
          left -= 1
          try f.get()
          catch { case e: ExecutionException => if (failure.isEmpty) failure = Some(e.getCause) }
        }
      }
      failure.foreach(throw _)
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
