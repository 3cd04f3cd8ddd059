package graft

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6): actions are only sequential because the driver calls
  * them sequentially, and at bench scale most stages leave cores idle
  * (few non-empty input splits), so the next job's tasks back-fill the
  * scheduler gaps and stage tails of the current one. Used by the
  * multi-band gate queries (t29/t31/t32) whose bands are separate
  * aggregations with no data dependency; jobs submitted concurrently
  * over one SHARED cached frame are safe — block materialization is
  * per-partition locked in the BlockManager, so racing consumers wait
  * on, not duplicate, each partition's compute.
  */
object Par {

  /** At most this many jobs in flight (round-18 verdict "next" 2):
    * guide §2.6's own caveat — "2-3 jobs in flight is plenty: enough
    * to fill the tail, not so many that they fight for executors".
    * An UNBOUNDED pool (one thread per thunk) measured anti-scaling
    * at full width on local[32] (driver PERF r18: t29 3.05 s @32 vs
    * 1.06 s @8 — N concurrent jobs × cpus-sized stages oversubscribe
    * the scheduler exactly when every core is already busy).
    */
  private val maxInFlight = 2

  /** Run the thunks as concurrent jobs ([[maxInFlight]] at a time,
    * FIFO — later thunks back-fill the tail of earlier ones); returns
    * results in thunk order. The first failure (in thunk order)
    * propagates, as when running them sequentially — Bench charges
    * the elapsed time either way. Every Spark job a thunk submits
    * carries one job tag per call, so on failure the whole fan-out is
    * cancelled with `cancelJobsWithTag`: interrupting a thread that
    * waits on its action does not stop the action's job, which would
    * run on, orphaned, holding executor cores. The pool is shut down
    * with `shutdownNow()` (queued thunks never start), and a thunk
    * that submits a job after the cancel cancels it again on its way
    * out. The SparkContext is the calling thread's active session's.
    * Each call owns its pool and tag, so the next call on the same
    * session starts clean.
    *
    * Callers MUST materialize any SHARED persisted frame before
    * fanning out (one count() — see PlanMemo.cachedEager's doc):
    * concurrent jobs racing on a persisted-but-unmaterialized
    * relation each recompute the whole build pipeline (cache blocks
    * dedupe only after the fact; d19 measured 164 s racing vs 22 s
    * materialized at GenData sf10).
    */
  def jobs[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_()).toSeq
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.length, maxInFlight))
    try {
      import scala.concurrent.duration.Duration
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = thunks.map(t => Future {
        sc.addJobTag(tag)
        try t()
        finally {
          sc.removeJobTag(tag)
          if (failed.get) sc.cancelJobsWithTag(tag)
        }
      }).toSeq
      try fs.map(Await.result(_, Duration.Inf))
      catch {
        case e: Throwable =>
          failed.set(true)
          pool.shutdownNow()
          sc.cancelJobsWithTag(tag)
          throw e
      }
    } finally pool.shutdown()
  }
}
