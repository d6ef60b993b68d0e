package perfbench

import org.apache.spark.sql.functions.{col, input_file_name}

import graft.etl.{Chunker, ChunkerConfig, Images, Ner, Parse}
import graft.pipeline.{IngestPipeline, ProcessingConfig}
import graft.store.{ObjectStore, TableStore}

/** Timed direct calls into single layers, made by the traced run after the
  * workload's timed section so they never overlap it.
  */
object LayerProbes {
  val IngestTables = Seq("documents", "document_chunks", "chart_data")

  /** `etl`: decode, chunking, NER and chart rendering, single-threaded over
    * up to 150 corpus documents, after a warm-up pass over 20.
    */
  def etl(corpus: Corpus, r: Report): Unit = {
    val parser = new Parse.TextDocParser
    val cfg = ChunkerConfig()
    val scale = ProcessingConfig().imageScale
    val docs = corpus.docs.take(150)
    var parseNs, chunkNs, nerNs, renderNs = 0L
    var chunks, charts = 0L
    def pass(ds: Seq[CorpusDoc], timed: Boolean): Unit = ds.foreach { d =>
      val t0 = System.nanoTime()
      val pd = parser.parse("/inbox/" + d.name, d.bytes)
      val t1 = System.nanoTime()
      val cs = Chunker.chunk(pd, cfg)
      val t2 = System.nanoTime()
      cs.foreach(c => Ner.extract(c.serialized))
      val t3 = System.nanoTime()
      val ps = Images.extractCharts(pd, scale)
      val t4 = System.nanoTime()
      if (timed) {
        parseNs += t1 - t0; chunkNs += t2 - t1; nerNs += t3 - t2; renderNs += t4 - t3
        chunks += cs.size; charts += ps.size
      }
    }
    pass(docs.take(20), timed = false)
    pass(docs, timed = true)
    val n = docs.size.toDouble
    r.metric("etl.parse_us_per_doc", parseNs / 1e3 / n, "us")
    r.metric("etl.chunk_us_per_doc", chunkNs / 1e3 / n, "us")
    r.metric("etl.ner_us_per_chunk", if (chunks == 0) 0.0 else nerNs / 1e3 / chunks, "us")
    r.metric("etl.render_us_per_chart", if (charts == 0) 0.0 else renderNs / 1e3 / charts, "us")
    r.metric("etl.chunks_per_doc", chunks / n, "count")
    r.metric("etl.charts_per_doc", charts / n, "count")
  }

  /** `store` layout at the end of the run. */
  def storeFiles(tables: TableStore, r: Report): Unit = {
    val reps = tables.storageReportAll().filter(t => IngestTables.contains(t.table))
    r.metric("store.files_per_table", Stats.mean(reps.map(_.files.toDouble)), "count")
    r.metric("store.small_files", reps.map(_.smallFiles).sum.toDouble, "count")
  }

  /** `store` reads with the arguments `DocumentStore` passes: the
    * documents point read, the two-tier chunk read and the charts-of-a-document
    * read for five seeded ids, and a batch read of all five; plus
    * `ObjectStore.get` of chart blobs.
    * Planning (stats pruning) happens inside the call, so its time is the
    * pruning cost; `inputFiles` is what the read will open, and the files
    * that actually hold a returned row give the useful share.
    */
  def storeReads(ctx: Ctx, tables: TableStore, objects: ObjectStore, t: Tracer,
                 r: Report): Unit = {
    val n = tables.read("documents").count()
    val rng = new java.util.SplittableRandom(ctx.seed * 31 + 17)
    val ids = Seq.fill(5)(1L + rng.nextLong(n))
    val buckets = tables.getTableProp("document_chunks", "buckets").map(_.toInt)
      .getOrElse(ProcessingConfig().chunkBuckets)
    var pruneMs = Seq.empty[Double]
    var planned, useful = 0L
    def probe(name: String)(read: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = t.spans.nowUs()
      val df = read
      val t1 = t.spans.nowUs()
      t.spans.add(s"store.$name", t0, t1, 0L, "store-probe")
      pruneMs :+= (t1 - t0) / 1e3
      val files = df.inputFiles
      planned += files.length
      useful += df.select(input_file_name().as("f")).distinct().collect().length
    }
    ids.foreach { id =>
      probe("read_range")(tables.readRange("documents", "id", id, id))
      val b = IngestPipeline.chunkBucketScalar(id, buckets)
      probe("read_range_all")(tables.readRangeAll("document_chunks",
        Seq(("doc_bucket", b, b), ("document_id", id, id))))
      probe("read_range")(tables.readRange("chart_data", "document_id", id, id))
    }
    probe("read_in")(tables.readIn("documents", "id", ids))
    r.metric("store.prune_ms", Stats.mean(pruneMs), "ms")
    r.metric("store.files_per_read", planned.toDouble / pruneMs.size, "count")
    r.metric("store.prune_useful_frac", if (planned == 0) 0.0 else useful.toDouble / planned, "ratio")

    val charts = tables.read("chart_data").select(col("document_id"), col("id"))
      .limit(20).collect().map(row => (row.getLong(0), row.getLong(1)))
    val getMs = charts.toSeq.map { case (d, c) =>
      val t0 = t.spans.nowUs()
      val got = objects.get(objects.chartKey(d, c))
      val t1 = t.spans.nowUs()
      t.spans.add("store.blob_get", t0, t1, 0L, "store-probe")
      r.check(got.exists(_._1.nonEmpty), s"chart blob $d/$c missing")
      (t1 - t0) / 1e3
    }
    r.metric("store.blob_get_ms", Stats.mean(getMs), "ms")
  }
}
