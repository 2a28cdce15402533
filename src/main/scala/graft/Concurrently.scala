package graft

import java.util.concurrent.{ExecutionException, Executors}

/** Runs independent actions (writes of independent artifacts, one ingest
  * chain per table) at the same time: Spark schedules several jobs at
  * once, and a cheap job back-fills an expensive one's straggler tail
  * instead of queueing behind it.
  */
object Concurrently {

  /** Runs `actions` on a pool of one thread per action and returns their
    * results in order. The pool threads are created by the calling thread,
    * so they inherit its SparkContext local properties (job group,
    * scheduler pool). When actions throw, the rest still run to completion;
    * then the first failure in argument order is rethrown as the action
    * threw it.
    */
  def apply[T](actions: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(actions.size.max(1))
    try {
      actions.map(a => pool.submit(() => a()))
        .map(f => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
        .map(_.fold(e => throw e, identity))
    } finally pool.shutdown()
  }
}
