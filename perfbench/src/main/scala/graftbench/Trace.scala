package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The per-layer collector of a traced run.
  *
  * - Split timers: [[layer]] times a block, adds it to one or more
  *   layer keys, and records a span (name, start, end, parent) in
  *   memory; [[spanJson]] writes them out and derives self time.
  * - Spark side: [[Listener]] aggregates task, stage and job metrics.
  *   Each job is attributed to the layer that was running when it
  *   was submitted (a job-local property), so jobs and stages run
  *   during the JSON writes can be counted separately.
  */
final case class Span(name: String, start: Long, var end: Long, parent: Int)

final class Trace(sc: SparkContext, cores: Int) {
  private def now = System.nanoTime()
  private val t0 = now
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  val PhaseKey = "graftbench.layer"

  /** Time `body` as span `name`; add its seconds to every key. */
  def layer[T](name: String, keys: String*)(body: => T): T = {
    val id = spans.length
    spans += Span(name, now - t0, -1, stack.headOption.getOrElse(-1))
    stack = id :: stack
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    val s = spans(id)
    try body
    finally {
      s.end = now - t0
      sc.setLocalProperty(PhaseKey, prev)
      stack = stack.tail
      keys.foreach(k => sums(k) += (s.end - s.start) / 1e9)
    }
  }

  def add(key: String, v: Double): Unit = sums(key) += v

  /** Spans as JSON rows plus self time (duration minus children). */
  def spanJson: java.util.List[java.util.Map[String, Any]] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.zipWithIndex.foreach { case (s, i) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", i); m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_s", s.start / 1e9); m.put("end_s", s.end / 1e9)
      m.put("self_s", (s.end - s.start - child(i)) / 1e9)
      out.add(m)
    }
    out
  }

  object Listener extends SparkListener {
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    private val stageLayer = mutable.Map.empty[Int, String]
    val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val byLayer = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
    @volatile var events = 0L

    // only jobs submitted inside a traced layer count, with their
    // stages and tasks
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { l =>
        jobStart(e.jobId) = (e.time, l)
        e.stageIds.foreach(stageLayer(_) = l)
        totals("jobs") += 1; byLayer((l, "jobs")) += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobStart.remove(e.jobId).foreach { case (t, _) => totals("job_wall_s") += (e.time - t) / 1e3 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      stageLayer.get(e.stageInfo.stageId).foreach { l =>
        totals("stages") += 1; byLayer((l, "stages")) += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val m = e.taskMetrics
      if (m != null && stageLayer.contains(e.stageId)) {
        val mb = 1024.0 * 1024.0
        totals("tasks") += 1
        totals("task_run_s") += m.executorRunTime / 1e3
        totals("task_cpu_s") += m.executorCpuTime / 1e9
        totals("gc_s") += m.jvmGCTime / 1e3
        totals("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
        totals("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
        totals("spill_mb") += m.diskBytesSpilled / mb
        totals("input_mb") += m.inputMetrics.bytesRead / mb
        totals("output_mb") += m.outputMetrics.bytesWritten / mb
        totals("result_mb") += m.resultSize / mb
        totals("peak_exec_mem_mb") = math.max(totals("peak_exec_mem_mb"), m.peakExecutionMemory / mb)
      }
    }

    /** Wait until the listener bus has delivered every event of the
      * jobs run so far: no active job and no new event for 200 ms. */
    def settle(): Unit = {
      var last = -1L
      var quiet = 0
      while (quiet < 4) {
        Thread.sleep(50)
        if (events == last && sc.statusTracker.getActiveJobIds().isEmpty) quiet += 1
        else { quiet = 0; last = events }
      }
    }

    /** 1 - task run time / (job wall time x cores): the share of task
      * slots that sat idle while a job was running. */
    def slotIdleFrac: Double = synchronized {
      val wall = totals("job_wall_s") * cores
      if (wall <= 0) 0.0 else 1.0 - totals("task_run_s") / wall
    }
  }
}
