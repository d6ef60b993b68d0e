package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Quality}
import graft.ops.Export
import graft.store.TableStore

/** The training-data path over a store the ingest built: Gopher quality
  * filter, MinHash near-duplicate pairs, duplicate clusters, canonical
  * survivor per cluster, JSONL shard export of the kept chunks. Each stage's
  * output is written to the store, as a real curation job would persist
  * it, and read back by the next. One timed call per stage, each under a
  * job group of the stage's name.
  */
object Curation {
  val RowsPerShard = 200L
  val Threshold = 0.5
  val Stages = Seq("ext.quality", "ext.near_dup", "ext.clusters", "ext.keep_canonical", "ops.export")

  def pass(ctx: Ctx, t: TableStore, corpus: Corpus, dir: Path, tr: Tracer, r: Report): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    var took = Map.empty[String, Double]
    val spanIds = Map.newBuilder[String, Long]
    def stage[T](name: String)(body: => T): T = {
      sc.setJobGroup(name, name)
      val s0 = tr.spans.nowUs()
      try body finally {
        val s1 = tr.spans.nowUs()
        took += name -> (s1 - s0) / 1e6
        spanIds += name -> tr.spans.add(name, s0, s1, 0L, name)
        sc.clearJobGroup()
      }
    }
    def persist(table: String, df: DataFrame): DataFrame = { t.append(table, df); t.read(table) }

    // document text = its chunks in order, whitespace-normalized
    val docText = t.read("document_chunks")
      .groupBy("document_id")
      .agg(sort_array(collect_list(struct(col("chunk_index"), col("text_content")))).as("cs"))
      .select(col("document_id"),
        regexp_replace(concat_ws(" ", col("cs.text_content")), "\\s+", " ").as("text"))
    val quality = stage("ext.quality") {
      persist("curate_quality", Quality.gopherFilter(docText, "document_id", "text"))
    }
    val kept = docText.join(quality.filter(col("keep"))
      .select(col("doc_id").as("document_id"), col("n_tokens")), "document_id")
    val pairs = stage("ext.near_dup") {
      persist("curate_pairs", Dedup.minhashNearDupPairs(kept, "document_id", "text",
        threshold = Threshold))
    }
    val clusters = stage("ext.clusters") {
      persist("curate_clusters", Dedup.duplicateClusters(pairs))
    }
    val canonical = stage("ext.keep_canonical") {
      persist("curate_canonical", Dedup.keepCanonical(kept.select("document_id", "n_tokens"),
        clusters, "document_id", col("n_tokens")).filter(col("is_canonical")))
    }
    val out = dir.resolve("export").toString
    val keptChunks = t.read("document_chunks").join(canonical.select("document_id"), "document_id")
      .select("id", "document_id", "chunk_index", "text_content")
    val shards = stage("ops.export") {
      Export.writeJsonlShards(keptChunks, Seq(col("document_id"), col("chunk_index")),
        RowsPerShard, out)
    }

    // every planted near-duplicate pair found, no reported pair below the
    // threshold, every kept chunk exported once
    val ids = t.read("documents").select("filename", "id").collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    val found = pairs.select("id_a", "id_b", "jac").collect()
      .map(row => ((row.getLong(0), row.getLong(1)), row.getDouble(2)))
    val foundPairs = found.map(_._1).toSet
    corpus.plantedPairs.foreach { case (a, b) =>
      val (x, y) = (ids(a), ids(b))
      r.check(foundPairs.contains((math.min(x, y), math.max(x, y))),
        s"planted near-duplicate pair $a/$b ($x,$y) not found")
    }
    found.foreach { case (p, j) => r.check(j >= Threshold, s"pair $p below threshold: $j") }
    val exported = Export.readJsonlShards(spark, out).count()
    val want = keptChunks.count()
    r.check(exported == want, s"exported $exported rows, kept chunks $want")

    val jobs = tr.jobs.jobs()
    val stageSpans = spanIds.result()
    jobs.filter(j => stageSpans.contains(j.group)).foreach(j =>
      tr.spans.add("spark.job", j.startUs, math.max(j.startUs, j.endUs), stageSpans(j.group), j.group))
    Stages.foreach(n => r.metric(n + "_s", took(n), "s"))
    r.metric("ext.pairs_found", found.length.toDouble, "count")
    r.metric("ext.docs_dropped", (corpus.docs.size - canonical.count()).toDouble, "count")
    r.metric("ops.shards_written", shards.toDouble, "count")
    r.info("planted_pairs") = corpus.plantedPairs.size
  }
}
