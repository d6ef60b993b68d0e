package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.pipeline.{IngestPipeline, ProcessingConfig}
import graft.store.{ObjectStore, TableStore}

/** Closed-loop backfill of a watched inbox: `IngestPipeline.ingestStream`
  * drains a seeded corpus into a fresh store with `Trigger.AvailableNow`,
  * `BatchFiles` files per micro-batch and the default `ProcessingConfig`
  * except for the compaction cadence, which runs every `Cadence` batches
  * instead of every 16 so that a run short enough for the benchmark's time
  * budget passes it at least twice. The traced run follows the stream with
  * one curation pass over the new store ([[Curation]]).
  */
object IngestWorkload extends Workload {
  val BatchFiles = 8
  val Cadence = 3
  val Config: ProcessingConfig = ProcessingConfig(compactEveryBatches = Some(Cadence))

  /** Micro-batches in a run: whole compaction cycles, about one cycle per
    * 12 s of `--seconds` and never fewer than two. The count depends on
    * `--seconds` only, so a given setting drains the same corpus on every
    * commit.
    */
  def batches(seconds: Int): Int = Cadence * math.max(2, seconds / 12)

  final case class State(dir: Path, corpus: Corpus, batches: Int)

  def setup(ctx: Ctx, dir: Path): State = {
    val n = batches(ctx.seconds)
    val corpus = Corpus.generate(ctx.seed, BatchFiles * n, BatchFiles)
    corpus.writeTo(dir.resolve("inbox"))
    State(dir, corpus, n)
  }

  def run(ctx: Ctx, st: State, tracer: Option[Tracer], r: Report): Double = {
    val spark = ctx.spark
    val tables = new TableStore(spark, st.dir.resolve("tables").toString)
    val objects = new ObjectStore(spark, st.dir.resolve("bucket").toString)
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val onPhase: (String, Double) => Unit = tracer match {
      case Some(t) => (name, secs) => {
        val end = t.spans.nowUs()
        phases.add((name, end - (secs * 1e6).toLong, end))
      }
      case None => (_, _) => ()
    }
    // the traced run watches progress live, the way an operator would
    val progressSeen = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = tracer.map { _ =>
      val l = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progressSeen.add(e.progress)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(l)
      l
    }
    val pipe = new IngestPipeline(spark, tables, objects, Config, onPhase = onPhase)
    val t0 = System.nanoTime()
    val q = pipe.ingestStream(st.dir.resolve("inbox").toString, st.dir.resolve("checkpoint").toString,
      Trigger.AvailableNow(), () => ctx.now, maxFilesPerBatch = Some(BatchFiles))
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    val nDocs = st.corpus.docs.size
    r.attempted += nDocs

    val progress = (tracer match {
      case Some(_) =>
        val deadline = System.nanoTime() + 10_000_000_000L
        while (progressSeen.size < q.recentProgress.length && System.nanoTime() < deadline)
          Thread.sleep(50)
        listener.foreach(spark.streams.removeListener)
        progressSeen.asScala.toSeq.sortBy(_.batchId)
      case None => q.recentProgress.toSeq
    }).filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val triggerS = progress.map(dur(_, "triggerExecution"))
    val cadence = progress.filter(p => p.batchId % Cadence == Cadence - 1)

    r.check(progress.size == st.batches, s"expected ${st.batches} batches, saw ${progress.size}")
    r.check(cadence.size >= 2, s"${cadence.size} batches ran the compaction cadence, expected 2 or more")
    checkStore(tables, objects, st.corpus, r)
    r.metric("ops_per_s", nDocs / wallS, "ops/s")
    // the compaction batches are the tail; the median is over the others
    val plainS = progress.filterNot(cadence.contains).map(dur(_, "triggerExecution"))
    if (plainS.nonEmpty) r.metric("p50_ms", Stats.median(plainS) * 1e3, "ms")
    if (cadence.nonEmpty)
      r.metric("tail_ms", Stats.median(cadence.map(dur(_, "triggerExecution"))) * 1e3, "ms")
    val stored = tables.storageReportAll().map(_.bytes).sum + Main.bytesUnder(st.dir.resolve("bucket"))
    r.metric("bytes_stored_per_input_byte", stored.toDouble / st.corpus.totalBytes, "ratio")
    r.info("batches") = progress.size
    r.info("batch_s") = triggerS
    r.info("docs") = nDocs

    tracer.foreach { t =>
      val spans = t.spans
      t.endTimedSection()
      val jobs = t.jobs.jobs()
      val perBatch = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val nB = progress.size.toDouble
      progress.foreach { p =>
        val trigS = dur(p, "triggerExecution")
        val addS = dur(p, "addBatch")
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val endUs = startUs + (trigS * 1e6).toLong
        val group = s"batch-${p.batchId}"
        val trig = spans.add("streaming.trigger", startUs, endUs, 0L, group)
        val addEnd = endUs - (dur(p, "commitOffsets") * 1e6).toLong
        val batch = spans.add("pipeline.batch", addEnd - (addS * 1e6).toLong, addEnd, trig, group)
        // ids_writes_stats is the hook's aggregate of the write-side phases
        val mine = phases.asScala.toSeq.filter { case (n, s, e) =>
          n != "ids_writes_stats" && s >= startUs - 1000 && e <= endUs + 1000
        }
        val phaseIds = mine.map { case (n, s, e) =>
          perBatch(n) += (e - s) / 1e6
          val layer = n match {
            case "parse_chunk_ner"             => "etl"
            case x if x.startsWith("ids_")     => "ops"
            case _                             => "store"
          }
          (spans.add(s"$layer.$n", s, e, batch, group), s, e)
        }
        perBatch("unattributed") += addS - mine.map { case (_, s, e) => (e - s) / 1e6 }.sum
        perBatch("trigger_overhead") += trigS - addS
        val inBatch = jobs.filter(j => j.startUs >= startUs && j.startUs <= endUs)
        inBatch.foreach { j =>
          val parent = phaseIds.find { case (_, s, e) => j.startUs >= s && j.startUs <= e }
            .map(_._1).getOrElse(batch)
          spans.add("spark.job", j.startUs, math.max(j.endUs, j.startUs), parent, group)
        }
        perBatch("jobs") += inBatch.size
        perBatch("tasks") += inBatch.map(t.jobs.tasksOf).sum
        perBatch("driver_gap") += trigS -
          Stats.unionLength(inBatch.map(j => (math.max(j.startUs, startUs), math.min(j.endUs, endUs)))) / 1e6
      }
      Seq("parse_chunk_ner", "ids_docs", "ids_chunks", "ids_charts", "write_documents",
        "write_chunks", "blob_puts", "write_charts", "unattributed").foreach { n =>
        r.metric(s"pipeline.${n}_s", perBatch(n) / nB, "s")
      }
      r.metric("streaming.trigger_overhead_s", perBatch("trigger_overhead") / nB, "s")
      r.metric("spark.jobs_per_batch", perBatch("jobs") / nB, "count")
      r.metric("spark.tasks_per_batch", perBatch("tasks") / nB, "count")
      r.metric("spark.driver_gap_s_per_batch", perBatch("driver_gap") / nB, "s")
      val idsS = Seq("ids_docs", "ids_chunks", "ids_charts").map(perBatch).sum
      r.info("ids_share_of_batch") = idsS / triggerS.sum
      LayerProbes.storeFiles(tables, r)
      LayerProbes.etl(st.corpus, r)
      LayerProbes.storeReads(ctx, tables, objects, t, r)
      Curation.pass(ctx, tables, st.corpus, st.dir, t, r)
    }
    wallS / nDocs
  }

  /** Ingest output checks: one document row per input file, chunk rows
    * matching the documents' `total_chunks`, one stored blob per chart row,
    * and dense unique ids in every table.
    */
  def checkStore(tables: TableStore, objects: ObjectStore, corpus: Corpus,
                 r: Report): Unit = {
    val n = corpus.docs.size.toLong
    val docs = tables.read("documents")
    val d = docs.agg(count(lit(1)), countDistinct(col("id")), min("id"), max("id"),
      coalesce(sum("total_chunks"), lit(0L)), countDistinct(col("filename"))).head()
    r.check(d.getLong(0) == n, s"documents rows ${d.getLong(0)} != input files $n")
    r.check(d.getLong(5) == n, s"distinct filenames ${d.getLong(5)} != input files $n")
    r.check(d.getLong(1) == n && d.getLong(2) == 1L && d.getLong(3) == n,
      s"document ids not dense 1..$n: distinct=${d.getLong(1)} min=${d.get(2)} max=${d.get(3)}")
    def dense(table: String): Long = {
      val c = tables.read(table).agg(count(lit(1)), countDistinct(col("id")),
        coalesce(min("id"), lit(1L)), coalesce(max("id"), lit(0L))).head()
      r.check(c.getLong(0) == c.getLong(1) && c.getLong(2) == 1L && c.getLong(3) == c.getLong(0),
        s"$table ids not dense and unique: rows=${c.getLong(0)} distinct=${c.getLong(1)} " +
          s"min=${c.getLong(2)} max=${c.getLong(3)}")
      c.getLong(0)
    }
    val chunkRows = dense("document_chunks")
    r.check(chunkRows == d.getLong(4), s"chunk rows $chunkRows != sum(total_chunks) ${d.getLong(4)}")
    val chartRows = dense("chart_data")
    val blobs = objects.listKeys().count()
    r.check(chartRows == blobs, s"chart rows $chartRows != stored blobs $blobs")
  }
}
