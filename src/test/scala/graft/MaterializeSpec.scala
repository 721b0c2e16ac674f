package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.EagerCount
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Par

/** Pins for the eager-materialization helpers: `Par` fails loudly and
  * leaves no orphaned job, and `EagerCount` stays what it claims to be —
  * `df.localCheckpoint(true)` plus the row count — so a Spark upgrade
  * that changes the private `LogicalRDD.fromDataset` seam fails here. */
class MaterializeSpec extends SparkSpec {

  test("Par.checkpointAll rethrows a failing branch and cancels its " +
    "siblings' jobs") {
    val sc = spark.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-par-"))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      // the sibling would hold 4 task slots for a minute unless cancelled
      val nap = udf { (i: Long) => Thread.sleep(60000L); i }
      val boom = udf { (i: Long) =>
        if (i >= 0) throw new IllegalStateException("boom"); i
      }
      val slow = spark.range(0, 4, 1, 4).select(nap(col("id")).as("id"))
      val failing = spark.range(0, 1, 1, 1).select(boom(col("id")).as("id"))
      val t0 = System.nanoTime()
      val e = intercept[Exception](Par.checkpointAll(slow, failing))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")))
      assert(secs < 30, s"the call waited $secs s for the sibling")
      eventually(timeout(20.seconds), interval(100.millis)) {
        assert(!groups.isEmpty)
        val st = sc.statusTracker
        groups.forEach { g =>
          val running = st.getJobIdsForGroup(g).toSeq
            .flatMap(id => st.getJobInfo(id))
            .filter(_.status == JobExecutionStatus.RUNNING)
          assert(running.isEmpty, s"group $g still has running jobs")
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  test("EagerCount.localCheckpointWithCount matches localCheckpoint(true) " +
    "on rows, count and size stats, with fresh exprIds") {
    val df = spark.range(0, 1000, 1, 4)
      .selectExpr("id", "id % 7 AS k").filter("k < 5")
    val (got, n) = EagerCount.localCheckpointWithCount(df)
    val ref = df.localCheckpoint(true)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(got) === rows(ref))
    assert(n === ref.count() && n === rows(ref).size)
    def size(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(got) === size(ref))
    assert(got.schema === ref.schema)
    // attribute ids: EagerCount re-instances its scan (fresh ids), while
    // Spark 4.1's localCheckpoint keeps the source's ids; both facts are
    // pinned so a Spark upgrade that changes either shows up here
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(got).intersect(ids(df)).isEmpty)
    assert(ids(ref) === ids(df))
    assert(got.as("x").join(got.as("y"), col("x.id") === col("y.id"))
      .count() === n)
  }
}
