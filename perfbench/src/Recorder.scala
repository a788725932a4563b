package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Raw event log of one benchmark run: Spark job/stage/task events from
  * the listener bus and the benchmark's own spans. Nothing is aggregated
  * here; `perfbench/metrics.py` attributes tasks to job groups and spans
  * once the run has ended, so that arithmetic is unit-tested in one place.
  *
  * Job groups name the pass and the innermost open span,
  * `p<pass>` or `p<pass>/<span id>`, which is how every job, and through
  * its stages every task, is attributed to the span that caused it.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with nanoTime resolution, on the
    * same time base as the listener's event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private val events = new ConcurrentLinkedQueue[String]()
  private val spans = mutable.ArrayBuffer[String]()
  private val open = mutable.Stack[String]() // job group of each open span
  private var nextSpan = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    events.add(s"""{"ev":"job_start","job":${e.jobId},"t":${e.time},""" +
      s""""group":"$group","stages":[${e.stageIds.mkString(",")}]}""")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val (wb, wr, ir, or) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten)
    events.add(s"""{"ev":"stage","stage":${s.stageId},""" +
      s""""attempt":${s.attemptNumber()},"tasks":${s.numTasks},""" +
      s""""shuffle_write_bytes":$wb,"shuffle_write_records":$wr,""" +
      s""""input_records":$ir,"output_records":$or}""")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      events.add(s"""{"ev":"task","stage":${e.stageId},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
        s""""gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill_bytes":${m.memoryBytesSpilled},""" +
        s""""peak_mem_bytes":${m.peakExecutionMemory}}""")
  }

  /** Attribute the jobs `body` starts to job group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Time `body` as one span of pass `pass`: its jobs run under the
    * span's own job group, and the enclosing group is restored after. */
  def span[T](pass: Int, name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.map(g => g.substring(g.indexOf('/') + 1))
      .getOrElse("")
    val group = s"p$pass/$id"
    open.push(group)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      open.pop()
      val outer = open.headOption.getOrElse(s"p$pass")
      sc.setJobGroup(outer, outer, interruptOnCancel = false)
      spans += s"""{"id":"$id","name":"$name","pass":$pass,""" +
        s""""parent":"$parent","start":$start,"end":$end}"""
    }
  }

  def eventLines: Seq[String] = events.asScala.toSeq
  def spanLines: Seq[String] = spans.toSeq
}
