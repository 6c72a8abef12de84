package graft

import java.util.concurrent.{CancellationException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** Independent driver-side job chains on a bounded thread pool, with one
  * failure rule for every caller: when a chain fails, its siblings are
  * stopped — chains not yet started never start, and every Spark job the
  * running ones submit is cancelled — and the failure is rethrown only
  * after every chain has returned and every task of those jobs has ended.
  * Nothing keeps writing after the caller has seen the error, so a
  * same-JVM retry never races orphans on the directories it rewrites.
  *
  * Chains are stopped by job cancellation, not thread interrupts: a write
  * command runs its job and its commit on a Spark-internal thread, so an
  * interrupted caller thread stops waiting while the write commits anyway.
  */
private[graft] object Parallel {

  /** Runs `chains` on at most `par` driver threads; results in input
    * order. The first failure is rethrown as itself.
    */
  def all[T](sc: SparkContext, par: Int)(chains: Seq[() => T]): Seq[T] = {
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val stopped = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(par.min(chains.size).max(1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = chains.map { c =>
      Future {
        if (stopped.get) throw new CancellationException("a sibling chain failed")
        sc.addJobTag(tag)
        try c() finally sc.removeJobTag(tag)
      }
    }
    // parasitic: the sequencing callbacks run on the completing thread,
    // so none can reach the pool after it is shut down
    try Await.result(
      Future.sequence(runs)(implicitly, ExecutionContext.parasitic), Duration.Inf)
    catch {
      case t: Throwable =>
        stopped.set(true)
        // a running chain between two jobs submits its next one tagged
        // too, so cancel until every chain has returned
        while (!runs.forall(_.isCompleted)) {
          sc.cancelJobsWithTag(tag)
          Thread.sleep(20)
        }
        awaitTasks(sc, tag)
        throw t
    } finally pool.shutdown()
  }

  /** Two chains of different result types, run as [[all]] runs them. */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](sc, 2)(Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** Blocks until no task of a job tagged `tag` is still running — a
    * cancelled job fails at once, but its tasks stop (and abort their
    * output) only when they next check for the kill.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(tag).exists { j =>
      st.getJobInfo(j).exists(_.stageIds.exists(s =>
        st.getStageInfo(s).exists(_.numActiveTasks > 0)))
    }
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(10)
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }
}
