package graft

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from the driver (guide §2.6
  * "Overlap independent jobs"; OPTIMIZATION r20 — VERDICT r19 #4).
  *
  * An index-epoch commit writes several surfaces (vectors, codes,
  * shingles, banding rows, members) that share no data dependency — only
  * the manifest row ordering matters, and it is written strictly AFTER
  * every surface lands. Submitting the surface writes sequentially
  * serializes their scheduler round-trips and lets each job's straggler
  * tail idle the rest of the cluster; submitting them from a small driver
  * pool lets the next write's tasks back-fill executors the previous one
  * frees — the guide's prescription at any scale, and at sf0.1 the direct
  * fix for lifecycle entries whose wall-clock is per-job scheduling
  * latency (their 8-vs-32-core ratio is ≈1).
  *
  * Failure semantics: every task runs to completion or failure; the first
  * failure (in task order) is rethrown unwrapped after all tasks settle,
  * with every later failure attached to it via `addSuppressed`. So a
  * crashed surface write can never be masked by a sibling still writing,
  * no sibling's failure is lost, and the manifest commit after [[run]]
  * never publishes a half-landed epoch, exactly as in the sequential order.
  *
  * Pools may nest: a task may itself call [[run]]
  * (CorpusPrep.buildPrepState → IncrementalDedup.buildIndex → writeEpoch).
  * Each call owns a fresh pool whose threads block only on their own
  * tasks, so nesting cannot deadlock; it only multiplies the driver
  * threads in flight.
  */
object Par {
  def run(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // actions resolve conf through the ACTIVE session thread-local
            // during planning; pin it in the pool thread like
            // SQLExecution does on the main thread
            SparkSession.setActiveSession(spark)
            t()
          }
        })
      }
      val failures = futs.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        // tasks may rethrow one shared instance; self-suppression throws
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
