package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed boundary crossing. Times are epoch microseconds so spans from
  * the benchmark's clock and from Spark's listener events share one axis.
  * `group` ties together every span of one batch, request or stage.
  */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
                      parent: Long, group: String) {
  def durUs: Long = endUs - startUs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

  def nowUs(): Long = System.nanoTime() / 1000L + offsetUs

  def add(name: String, startUs: Long, endUs: Long, parent: Long, group: String): Long = {
    val id = ids.incrementAndGet()
    q.add(Span(id, name, startUs, endUs, parent, group))
    id
  }

  def timed[T](name: String, group: String, parent: Long = 0L)(body: => T): T = {
    val t0 = nowUs()
    try body finally add(name, t0, nowUs(), parent, group)
  }

  def all: Seq[Span] = q.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Self time per layer in seconds: each span's duration minus the part of
    * its interval its child spans cover.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        (s.durUs - Stats.unionLength(kids)) / 1e6
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "group" -> s.group)))
      w.newLine()
    } finally w.close()
  }
}

/** What a job did, from Spark's public listener events. */
final case class JobRecord(jobId: Int, group: String, startUs: Long, endUs: Long,
                           stageIds: Seq[Int])

final class TaskTotals {
  var runMs, cpuNs, gcMs, deserMs, shuffleReadBytes, shuffleWriteBytes,
    fetchWaitMs, inputBytes, outputBytes, spillBytes = 0L
}

/** SparkListener that records every job's interval and job group and sums
  * task metrics, per stage and overall. Attached only for traced runs.
  */
final class JobRecorder extends SparkListener {
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val ended = new ConcurrentLinkedQueue[JobRecord]()
  private val tasksByStage = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private val totals = new TaskTotals

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    started.put(e.jobId, JobRecord(e.jobId, group, e.time * 1000L, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(r => ended.add(r.copy(endUs = e.time * 1000L)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksByStage.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) this.synchronized {
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.deserMs += m.executorDeserializeTime
      totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      totals.inputBytes += m.inputMetrics.bytesRead
      totals.outputBytes += m.outputMetrics.bytesWritten
      totals.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Ended jobs, after waiting (up to 10 s) for the asynchronous listener
    * bus to deliver the events of jobs that already finished.
    */
  def jobs(): Seq[JobRecord] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1
    while ((!started.isEmpty || ended.size != last) && System.nanoTime() < deadline) {
      last = ended.size
      Thread.sleep(100)
    }
    ended.asScala.toSeq.sortBy(_.startUs)
  }

  def tasksOf(j: JobRecord): Long =
    j.stageIds.map(s => Option(tasksByStage.get(s)).map(_.get).getOrElse(0L)).sum

  /** The executor-substrate layer metrics for the whole traced run. */
  def sparkMetrics: Seq[(String, Double, String)] = this.synchronized {
    Seq(
      ("spark.executor_run_s", totals.runMs / 1e3, "s"),
      ("spark.executor_cpu_s", totals.cpuNs / 1e9, "s"),
      ("spark.gc_s", totals.gcMs / 1e3, "s"),
      ("spark.deser_s", totals.deserMs / 1e3, "s"),
      ("spark.shuffle_read_bytes", totals.shuffleReadBytes.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", totals.shuffleWriteBytes.toDouble, "bytes"),
      ("spark.fetch_wait_s", totals.fetchWaitMs / 1e3, "s"),
      ("spark.input_bytes", totals.inputBytes.toDouble, "bytes"),
      ("spark.output_bytes", totals.outputBytes.toDouble, "bytes"),
      ("spark.spill_bytes", totals.spillBytes.toDouble, "bytes"))
  }
}
