package graft.operators

import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame

/** Concurrent eager materialization of INDEPENDENT intermediate frames
  * (optimization guide §2.6): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because the driver calls them sequentially. A query whose result
  * consumes two independent expensive subframes (q338's two catch
  * pipelines, q301's truth + triage sides, q139's candidate + truth
  * sides) pays SUM-of-walls when it checkpoints them one by one;
  * submitting the localCheckpoints from a small thread pool pays
  * MAX-of-walls, with the later jobs' tasks back-filling executor
  * slots the earlier jobs' stage tails leave idle. The same shape
  * holds on a cluster at 100 TB — this is scheduling, not a local
  * core-count tune.
  *
  * Semantics are unchanged: each frame is the same eager
  * localCheckpoint it was before, just submitted concurrently. The
  * branches share one job group; the first branch to fail cancels the
  * group's running and not-yet-submitted jobs (interrupting their
  * tasks), the call waits until every branch has returned, and then
  * rethrows that first failure — so an error fails the query loudly
  * and leaves no orphaned sibling job running behind it.
  */
private[graft] object Par {

  private val groups = new AtomicLong()

  /** Eagerly localCheckpoint every frame, all in flight at once.
    * Returns the checkpointed frames in input order. */
  def checkpointAll(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.sizeIs <= 1) dfs.map(_.localCheckpoint(true)).toSeq
    else {
      val sc = dfs.head.sparkSession.sparkContext
      val group = s"graft-par-${groups.incrementAndGet()}"
      val desc = Option(sc.getLocalProperty("spark.job.description"))
        .getOrElse(group)
      val failure = new AtomicReference[Throwable]()
      val pool = Executors.newFixedThreadPool(dfs.size)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      try {
        val fs = dfs.map(df => Future {
          sc.setJobGroup(group, desc, interruptOnCancel = true)
          try df.localCheckpoint(true)
          catch { case e: Throwable =>
            if (failure.compareAndSet(null, e))
              sc.cancelJobGroupAndFutureJobs(group, s"sibling failed: $e")
            throw e
          }
        })
        fs.foreach(Await.ready(_, Duration.Inf))
        Option(failure.get).foreach(e => throw e)
        fs.map(_.value.get.get).toSeq
      } finally pool.shutdown()
    }
  }
}
