package graft.ops

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from a small driver-side thread
  * pool (the guide-§2.6 move): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially. The store/shard/probe
  * lifecycles are full of independent sub-operations (per-shard index
  * builds, per-store fixture builds, per-member erase payloads,
  * per-shard snapshot captures) whose per-job fixed costs (AQE
  * replanning, task scheduling, fs swaps) dominate at bench scale and
  * leave most executor slots idle; overlapping them lets the next
  * job's tasks back-fill the current job's tail — at ANY core count
  * (the pool bounds DRIVER-side concurrency; executor-side parallelism
  * stays the scheduler's).
  *
  * Semantics: wait for ALL tasks (uninterruptible — a still-running task must not race
  * the caller's next operation), then rethrow the FIRST failure by
  * input order. Results preserve input order. Tasks must be mutually
  * independent — the caller's contract, exactly as if it had called
  * them in sequence. The pool is created per call, so its threads
  * inherit the caller's SparkContext local properties (job labels).
  */
private[graft] object Par {

  /** Run `tasks` concurrently (bounded pool), return results in input
    * order. Sequential fast path for 0/1 tasks or `maxThreads <= 1` —
    * no pool, no overhead.
    */
  def map[A, B](items: Seq[A], maxThreads: Int = 8)(f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    if (items.size == 1 || maxThreads <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, maxThreads))
    try {
      val futures = items.map(a => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      var interrupted = false
      val results = futures.map { fut =>
        var out: Option[Either[Throwable, B]] = None
        while (out.isEmpty)
          try out = Some(Right(fut.get()))
          catch {
            case e: java.util.concurrent.ExecutionException =>
              out = Some(Left(e.getCause))
            case _: InterruptedException => interrupted = true
          }
        out.get
      }
      if (interrupted) Thread.currentThread().interrupt()
      results.collectFirst { case Left(e) => e }.foreach(throw _)
      results.collect { case Right(b) => b }
    } finally pool.shutdown()
  }

  /** Label every Spark job `body` submits from THIS thread (guide §1.5
    * — label your jobs): descriptions are thread-local, and a [[map]]
    * pool's threads inherit the label set when the call started. The
    * caller's own label is saved and restored, so composing ops keep
    * their outer description.
    */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(prev)
  }

  def run(tasks: Seq[() => Unit], maxThreads: Int = 8): Unit = {
    map(tasks, maxThreads)(_())
    ()
  }
}
