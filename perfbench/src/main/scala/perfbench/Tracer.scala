package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for a traced run, built only from Spark's public
  * `SparkListener` and `StreamingQueryListener`.
  *
  * The client runs one query at a time, so every event delivered between
  * `begin` and the end of `end`'s flush belongs to that query. Spans stay
  * in memory and are written as JSON lines by `write`: per execution a
  * query span, its phase spans (build/plan/exec/teardown), the Spark jobs
  * (parented to the phase they started in), their stages, and streaming
  * micro-batches (parented to the phase they ended in). Times are epoch
  * milliseconds.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  /** Per-stage task rollup; `runMs` keeps every task's run time for the
    * tiny-task share and the max/median skew. */
  private final class Stage(val id: Int) {
    var submitted, completed = 0L
    val runMs = mutable.ArrayBuffer[Long]()
    var cpuNs, gcMs, shWrite, shRead, fetchWaitMs, spill = 0L
    var inBytes, inRows, outBytes, outRows, writeTaskMs = 0L
  }
  private final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    var end = 0L
  }
  private final class Ctx(val trace: String, val query: String) {
    val phases = mutable.ArrayBuffer[(String, Double)]()
    var end = 0.0
    val jobs = mutable.ArrayBuffer[Job]()
    val stages = mutable.Map[Int, Stage]()
    val batches = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
    var storageAtStart, storagePeak, pinnedAfter = 0L
    var error: Option[String] = None
  }

  private var cur: Ctx = _
  private val done = mutable.ArrayBuffer[Ctx]()
  private val flushJobs = mutable.Set[Int]()
  private var flushesSeen, streamsStarted, streamsEnded = 0L
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L

  private val group = "perfbench.flush"
  private def epochMs: Double = System.currentTimeMillis().toDouble

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g == group) flushJobs += e.jobId
      else if (cur != null) cur.jobs += new Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (flushJobs.remove(e.jobId)) flushesSeen += 1
      else if (cur != null) cur.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      Tracer.this.notifyAll()
    }
    private def stage(id: Int): Option[Stage] =
      if (cur == null || !cur.jobs.exists(_.stages.contains(id))) None
      else Some(cur.stages.getOrElseUpdate(id, new Stage(id)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stage(e.stageInfo.stageId).foreach { s =>
          s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stage(e.stageInfo.stageId).foreach { s =>
          s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stage(e.stageId); m <- Option(e.taskMetrics)) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
        if (m.outputMetrics.bytesWritten > 0 || m.outputMetrics.recordsWritten > 0)
          s.writeTaskMs += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val key = b.blockManagerId.toString + "/" + b.blockId.name
          val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          blockBytes += size - blocks.getOrElse(key, 0L)
          if (size == 0) blocks.remove(key) else blocks(key) = size
          if (cur != null) cur.storagePeak = math.max(cur.storagePeak, blockBytes)
        }
      }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamsStarted += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { if (cur != null) cur.batches += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsEnded += 1; Tracer.this.notifyAll() }
  })

  /** Waits until every event posted so far has reached both listeners: a
    * marker job's end arrives after all earlier scheduler events, and a
    * stream's terminated event after all of its progress events. */
  private def flush(): Unit = {
    val target = synchronized(flushesSeen) + 1
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while ((flushesSeen < target || streamsEnded < streamsStarted) &&
          System.currentTimeMillis() < deadline)
        wait(100)
    }
  }

  private def heldBytes(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def begin(query: String, pass: Int): Unit = {
    flush()
    val held = heldBytes()
    synchronized {
      cur = new Ctx(s"p$pass.$query", query)
      cur.storageAtStart = held
      cur.storagePeak = blockBytes
    }
  }

  def phase(name: String): Unit = synchronized { cur.phases += name -> epochMs }

  /** Closes the execution after `clearCache()`: what is still held then,
    * above what was held before the query began, is pinned by the query. */
  def end(error: Option[String]): Unit = {
    val end = epochMs
    flush()
    val held = heldBytes()
    synchronized {
      cur.end = end
      cur.error = error
      cur.pinnedAfter = math.max(0L, held - cur.storageAtStart)
      done += cur
      cur = null
    }
  }

  def write(path: String): Unit = {
    val lines = mutable.ArrayBuffer[String]()
    var n = 0
    def span(c: Ctx, parent: String, kind: String, name: String,
        start: Double, end: Double, attrs: (String, Any)*): String = {
      n += 1
      val id = s"s$n"
      val a = attrs.map { case (k, v) =>
        val js = v match {
          case s: String => Json.str(s)
          case None => "null"
          case Some(s: String) => Json.str(s)
          case x => x.toString
        }
        s""","$k":$js"""
      }.mkString
      lines += s"""{"trace":${Json.str(c.trace)},"span":"$id",""" +
        s""""parent":${if (parent == null) "null" else "\"" + parent + "\""},""" +
        s""""kind":"$kind","name":${Json.str(name)},"start_ms":$start,""" +
        s""""end_ms":$end$a}"""
      id
    }
    synchronized {
      for (c <- done) {
        val q = span(c, null, "query", c.query, c.phases.head._2, c.end,
          "error" -> c.error, "storage_peak_bytes" -> c.storagePeak,
          "storage_pinned_after_bytes" -> c.pinnedAfter)
        val bounds = c.phases.map(_._2) :+ c.end
        val phaseIds = c.phases.indices.map { i =>
          (span(c, q, "phase", c.phases(i)._1, bounds(i), bounds(i + 1)),
            bounds(i), bounds(i + 1))
        }
        def phaseAt(t: Double): String = phaseIds
          .find { case (_, s, e) => t >= s && t < e }
          .orElse(if (t < bounds.head) phaseIds.headOption else phaseIds.lastOption)
          .map(_._1).orNull
        for (j <- c.jobs) {
          val jid = span(c, phaseAt(j.start.toDouble), "job", s"job ${j.id}",
            j.start.toDouble, math.max(j.end, j.start).toDouble)
          for (sid <- j.stages; s <- c.stages.get(sid)) {
            val sorted = s.runMs.sorted
            span(c, jid, "stage", s"stage ${s.id}", s.submitted.toDouble,
              math.max(s.completed, s.submitted).toDouble,
              "tasks" -> sorted.size,
              "tiny_tasks" -> sorted.count(_ < Tracer.TinyTaskMs),
              "run_ms" -> sorted.sum, "max_run_ms" -> sorted.lastOption.getOrElse(0L),
              "median_run_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)),
              "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
              "shuffle_write_bytes" -> s.shWrite, "shuffle_read_bytes" -> s.shRead,
              "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spill,
              "input_bytes" -> s.inBytes, "input_rows" -> s.inRows,
              "output_bytes" -> s.outBytes, "output_rows" -> s.outRows,
              "write_task_ms" -> s.writeTaskMs)
          }
        }
        for (b <- c.batches) {
          val p = b.progress
          val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          val ops = p.stateOperators
          span(c, phaseAt(t + d.getOrElse("triggerExecution", 0L)), "batch",
            s"batch ${p.batchId}", t, t + d.getOrElse("triggerExecution", 0L),
            "stream" -> p.runId.toString, "input_rows" -> p.numInputRows,
            "add_batch_ms" -> d.getOrElse("addBatch", 0L),
            "planning_ms" -> d.getOrElse("queryPlanning", 0L),
            "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
            "state_rows" -> ops.map(_.numRowsTotal).sum,
            "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)
        }
      }
    }
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** A task that runs for less than this is near-empty: scheduling it costs
    * about as much as the work it does. */
  val TinyTaskMs = 10L
}
