package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.SparkSession

/** Runs independent Spark actions (writes, collects) as concurrent jobs
  * on one session. A stage whose jobs are short leaves the scheduler
  * idle while the driver plans and generates code for the next one;
  * with several independent actions in flight, one action's driver
  * work overlaps another's tasks.
  *
  * Contract:
  *  - a fixed pool of `min(actions, defaultParallelism)` threads,
  *    created per call and shut down before it returns;
  *  - the pool's threads are created on the calling thread, so they
  *    inherit its Spark local properties (job group, scheduler pool,
  *    job description) and its active session — the global
  *    `ExecutionContext` reuses threads made elsewhere and would not;
  *  - results come back in input order;
  *  - when an action throws, the call waits for every other action to
  *    finish, then throws the first failure in input order with the
  *    later ones attached as suppressed.
  *
  * The actions must not depend on each other. Frames they share are
  * built on the calling thread before the call (see the lattice
  * builders in [[graft.ops.Summary]], whose lazy pin flips a session
  * conf while it plans).
  */
object ConcurrentActions {
  def run[A](spark: SparkSession, actions: Seq[() => A]): Seq[A] =
    if (actions.isEmpty) Seq.empty
    else {
      val threads =
        math.min(actions.size, spark.sparkContext.defaultParallelism)
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val futures = actions.map(a => pool.submit(new Callable[A] {
          def call(): A = a()
        }))
        val outcomes = futures.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: later =>
            later.filterNot(_ eq first).foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(a) => a }
        }
      } finally pool.shutdownNow()
    }
}
