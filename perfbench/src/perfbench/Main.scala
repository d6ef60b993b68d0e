package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.IngestPipeline
import graft.store.{ObjectStore, TableStore}

/** What every workload sees. `root` is this run's scratch directory. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cpus: Int,
                     root: Path, traceDir: Path, workload: String) {
  val now: Timestamp = Timestamp.valueOf("2026-01-15 08:30:00")
}

/** Metrics and output checks of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failedChecks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failedChecks.synchronized { if (failedChecks.size < 20) failedChecks += what }
}

/** The traced run's recorders: spans from the benchmark's own boundaries and
  * a SparkListener for jobs and task metrics.
  */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val jobs = new JobRecorder
  spark.sparkContext.addSparkListener(jobs)
  @volatile private var frozen: Seq[(String, Double, String)] = Nil

  /** Fixes the task-metric totals at the end of the timed section, before
    * the layer probes add jobs of their own.
    */
  def endTimedSection(): Unit = { jobs.jobs(); frozen = jobs.sparkMetrics }
  def sparkMetrics: Seq[(String, Double, String)] = if (frozen.nonEmpty) frozen else jobs.sparkMetrics
  def close(): Unit = spark.sparkContext.removeSparkListener(jobs)
}

trait Workload {
  type State
  /** One set-up repetition; everything it creates lives under `dir`. */
  def setup(ctx: Ctx, dir: Path): State
  /** Workload-specific warm-up on a set-up state that no timed run uses,
    * part of set-up. Output checks go to `r`.
    */
  def warm(ctx: Ctx, st: State, r: Report): Unit = ()
  /** The timed run. Adds the end-to-end metrics and, when `tracer` is set,
    * the per-layer metrics to `r`. Returns seconds per operation, the figure
    * the tracing overhead is computed from.
    */
  def run(ctx: Ctx, st: State, tracer: Option[Tracer], r: Report): Double
}

object Main {
  val SetupReps = 3
  val WarmupDocs = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = a("workload") match {
      case "ingest" => IngestWorkload
      case "serve"  => ServeWorkload
      case other    => sys.error(s"unknown workload $other")
    }
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores = cpus, shufflePartitions = cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, cpus,
      Paths.get(a("root")), Paths.get(a("trace-dir")), a("workload"))
    val r = new Report
    try {
      val w0 = System.nanoTime()
      warmup(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9
      // set up several times and keep every state: the workload warms up on
      // the first, and a traced run measures its untraced half on the second
      // and its traced half on the third
      val states = (1 to SetupReps).map { i =>
        val s0 = System.nanoTime()
        val st = workload.setup(ctx, ctx.root.resolve(s"setup-$i"))
        ((System.nanoTime() - s0) / 1e9, st)
      }
      val k0 = System.nanoTime()
      workload.warm(ctx, states.head._2, r)
      val warmWorkloadS = (System.nanoTime() - k0) / 1e9
      r.metric("setup_s", sessionS + warmS + warmWorkloadS + Stats.median(states.map(_._1)), "s")
      r.info("setup_reps_s") = states.map(_._1)
      r.info("session_start_s") = sessionS
      r.info("warmup_s") = warmS + warmWorkloadS
      if (!traced) {
        workload.run(ctx, states.last._2, None, r)
        r.metric("retained_heap_mb", retainedHeapMb(), "MB")
      } else {
        val plain = new Report
        val untracedS = workload.run(ctx, states(SetupReps - 2)._2, None, plain)
        r.failedChecks ++= plain.failedChecks
        r.attempted += plain.attempted
        r.failed += plain.failed
        val tracer = new Tracer(spark)
        val tracedS = try workload.run(ctx, states.last._2, Some(tracer), r)
          finally tracer.close()
        r.metric("bench.trace_overhead_frac", tracedS / untracedS - 1, "ratio")
        r.metric("bench.failed_frac", r.failed.toDouble / math.max(r.attempted, 1L), "ratio")
        r.metrics ++= tracer.sparkMetrics.map { case (n, v, u) => n -> (v, u) }
        val self = tracer.spans.selfSecondsByLayer
        r.info("self_s_by_layer") = self
        Files.createDirectories(ctx.traceDir)
        val tag = s"${ctx.workload}-seed${ctx.seed}"
        tracer.spans.writeJsonl(ctx.traceDir.resolve(s"$tag-spans.jsonl"))
        r.info("span_file") = ctx.traceDir.resolve(s"$tag-spans.jsonl").toString
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.check(ok = false, s"run aborted: $e")
    } finally spark.stop()
    val out = Json.obj(Seq(
      "correct" -> r.failedChecks.isEmpty,
      "attempted" -> math.max(r.attempted, 1L),
      "failed" -> r.failed,
      "metrics" -> r.metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        .toMap,
      "failed_checks" -> r.failedChecks.toSeq,
      "info" -> r.info.toMap))
    println("PERFBENCH_RESULT " + out)
  }

  /** One throwaway ingest micro-batch through `ingestStream`, into a store
    * of its own: the JVM's and Spark's first-use costs (class loading, JIT,
    * code generation) land in set-up rather than in the first timed
    * operations. The store stays until the run's scratch root is deleted:
    * the stream releases its writer leases asynchronously after it ends.
    */
  def warmup(ctx: Ctx): Unit = {
    val dir = ctx.root.resolve("warmup")
    Corpus.generate(ctx.seed + 7919, WarmupDocs, WarmupDocs).writeTo(dir.resolve("inbox"))
    val tables = new TableStore(ctx.spark, dir.resolve("tables").toString)
    val objects = new ObjectStore(ctx.spark, dir.resolve("bucket").toString)
    new IngestPipeline(ctx.spark, tables, objects)
      .ingestStream(dir.resolve("inbox").toString, dir.resolve("checkpoint").toString,
        Trigger.AvailableNow(), () => ctx.now).awaitTermination()
  }

  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
