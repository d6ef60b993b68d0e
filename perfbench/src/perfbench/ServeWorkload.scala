package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.pipeline.IngestPipeline
import graft.serve.{DocumentStore, HttpShim}
import graft.store.{ObjectStore, TableStore}

/** The REST surface under a closed loop of `Clients` clients and a fixed
  * total request count. The store is built in set-up by
  * `IngestPipeline.ingest` from the same generator. 95 % of requests are
  * HTTP reads against `HttpShim`; 5 % are writes through `DocumentStore`
  * (the shim has no update route). Keys are Zipf-skewed.
  */
object ServeWorkload extends Workload {
  val Docs = 30
  val Clients = 4
  /** Request decks in a run: about one deck per 8 s of `--seconds`, never
    * fewer than two. The count depends on `--seconds` only, so it is the same
    * on every commit and so is the tail percentile.
    */
  def decks(seconds: Int): Int = math.max(2, seconds / 8)
  private val Zipf = 0.8

  final case class State(dir: Path, corpus: Corpus)

  /** The seeded corpus, ingested by `IngestPipeline.ingest` in one batch. */
  def setup(ctx: Ctx, dir: Path): State = {
    val corpus = Corpus.generate(ctx.seed, Docs, 10)
    corpus.writeTo(dir.resolve("inbox"))
    new IngestPipeline(ctx.spark, tables(ctx, dir), objects(ctx, dir))
      .ingest(dir.resolve("inbox").toString, ctx.now)
    State(dir, corpus)
  }

  /** One request of every kind, writes included, on the same clients: each
    * read plan and the copy-on-write path compile and load here rather than
    * in the first timed requests.
    */
  override def warm(ctx: Ctx, st: State, r: Report): Unit = {
    val t = tables(ctx, st.dir)
    val store = new DocumentStore(ctx.spark, t, objects(ctx, st.dir))
    val snap = snapshot(t)
    val reqs = requests(ctx.seed + 1, 3 * Deck.size, snap)
    val firsts = reqs.groupBy(kind).values.map(_.head).toIndexedSeq.sortBy(kind)
    val shim = new HttpShim(store, st.dir.resolve("upload").toString)
    val port = shim.start()
    try drive(firsts, port, store, st.dir.resolve("tables"), new Checker(snap, r), ctx, None, r)
    finally shim.stop()
  }

  private def tables(ctx: Ctx, dir: Path) = new TableStore(ctx.spark, dir.resolve("tables").toString)
  private def objects(ctx: Ctx, dir: Path) = new ObjectStore(ctx.spark, dir.resolve("bucket").toString)

  sealed trait Req { def doc: Long }
  final case class GetDoc(doc: Long) extends Req
  final case class GetChunks(doc: Long, start: Int, end: Int) extends Req
  final case class GetCharts(doc: Long) extends Req
  final case class GetChart(doc: Long, chart: Long) extends Req
  final case class Page(doc: Long, limit: Int) extends Req // doc = after_id
  final case class Hydrate(doc: Long, ids: Seq[Long]) extends Req
  final case class Update(doc: Long, metainfo: String) extends Req
  final case class DeleteChart(doc: Long, chart: Long) extends Req

  /** The store as set-up left it: total_chunks per document id and chart
    * ids per document id.
    */
  final case class Snapshot(totalChunks: Map[Long, Int], charts: Map[Long, Seq[Long]]) {
    val n: Long = totalChunks.size.toLong
  }

  private def snapshot(t: TableStore): Snapshot = {
    val tc = t.read("documents").select("id", "total_chunks").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ch = t.read("chart_data").select("document_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2).toSeq.sorted }
    Snapshot(tc, ch)
  }

  /** One deck of 22 requests, 21 reads and one write, in the mix's
    * proportions: document 41 %, chunk range 23 %, chart list 9 %, chart
    * image 9 %, keyset page 9 %, batch hydrate 4.5 %, write 4.5 %. The
    * request list deals shuffled decks, so a run of a given length has the
    * same mix whatever the seed.
    */
  private val Deck: Seq[String] =
    Seq.fill(9)("doc") ++ Seq.fill(5)("chunks") ++ Seq.fill(2)("charts") ++ Seq.fill(2)("chart") ++
      Seq.fill(2)("page") ++ Seq("hydrate", "write")

  /** The seeded request list. Writes alternate `updateDocumentMetainfo`
    * and `deleteChart`, so a two-deck run makes one of each.
    */
  def requests(seed: Long, count: Int, snap: Snapshot): IndexedSeq[Req] = {
    val rng = new java.util.SplittableRandom(seed * 7 + 3)
    val shuffler = new scala.util.Random(seed)
    val n = snap.n.toInt
    val perm = shuffler.shuffle((1L to n).toVector)
    val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, Zipf))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipfDoc(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
    // 2 % of keyed reads ask for a document that does not exist
    def readKey(): Long = if (rng.nextInt(50) == 0) snap.n + 1 + rng.nextInt(1000) else zipfDoc()
    val withCharts = snap.charts.keys.toVector.sorted
    val deletable = shuffler.shuffle(snap.charts.toVector.sortBy(_._1)
      .flatMap { case (d, cs) => cs.map(c => (d, c)) }).iterator
    var writes = 0
    Iterator.continually(shuffler.shuffle(Deck)).flatten.take(count).zipWithIndex.map {
      case ("doc", _) => GetDoc(readKey())
      case ("chunks", _) =>
        val d = readKey()
        val tc = snap.totalChunks.getOrElse(d, 1)
        val a = rng.nextInt(math.max(1, tc))
        GetChunks(d, a, a + rng.nextInt(math.max(1, tc - a)))
      case ("charts", _) => GetCharts(readKey())
      case ("chart", _) if withCharts.nonEmpty =>
        val d = withCharts(rng.nextInt(withCharts.size))
        val cs = snap.charts(d)
        GetChart(d, cs(rng.nextInt(cs.size)))
      case ("page", _) | ("chart", _) => Page(rng.nextLong(snap.n + 1), 20)
      case ("hydrate", _) => Hydrate(0L, Seq.fill(5 + rng.nextInt(16))(readKey()).distinct)
      case (_, i) =>
        writes += 1
        if (writes % 2 == 0 && deletable.hasNext) { val (d, c) = deletable.next(); DeleteChart(d, c) }
        else Update(zipfDoc(), s"""{"source":"bench","rev":$i}""")
    }.toIndexedSeq
  }

  private def isWrite(q: Req): Boolean = q.isInstanceOf[Update] || q.isInstanceOf[DeleteChart]

  private def path(q: Req): String = q match {
    case GetDoc(d)          => s"/documents/$d"
    case GetChunks(d, a, b) => s"/documents/$d/chunks?start_chunk=$a&end_chunk=$b"
    case GetCharts(d)       => s"/documents/$d/charts"
    case GetChart(d, c)     => s"/documents/$d/charts/$c"
    case Page(a, l)         => s"/documents?after_id=$a&limit=$l"
    case Hydrate(_, ids)    => s"/documents?ids=${ids.mkString(",")}"
    case other              => sys.error(s"not an HTTP read: $other")
  }

  private def kind(q: Req): String = q.getClass.getSimpleName

  /** One completed operation. `deletedBefore(chart, t)`: the chart's delete
    * finished before time t.
    */
  final class Checker(snap: Snapshot, r: Report) {
    private val mapper = new ObjectMapper()
    private val deletedAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    def markDeleted(chart: Long, atNs: Long): Unit = deletedAt.put(chart, atNs)
    private def deletedBy(chart: Long, t: Long): Boolean =
      Option(deletedAt.get(chart)).exists(_ <= t)
    private def present(d: Long) = snap.totalChunks.contains(d)

    /** True when the response agrees with the store; false for a failed
      * operation (5xx or an unreadable body).
      */
    def verify(q: Req, status: Int, body: Array[Byte], t0: Long, t1: Long): Boolean = {
      if (status >= 500) return false
      def json: JsonNode = mapper.readTree(body)
      def ok(c: Boolean, what: => String): Unit = r.check(c, s"${path(q)}: $what")
      try q match {
        case GetDoc(d) =>
          if (!present(d)) ok(status == 404, s"status $status for an absent document")
          else {
            ok(status == 200, s"status $status for a present document")
            if (status == 200) {
              val j = json
              val chunks = j.get("chunks").elements().asScala.map(_.get("chunk_index").asInt).toSeq
              ok(j.get("id").asLong == d, "wrong id")
              ok(j.get("total_chunks").asInt == snap.totalChunks(d), "total_chunks differs from the store")
              ok(chunks == (0 until snap.totalChunks(d)), s"nested chunks $chunks != total_chunks")
            }
          }
        case GetChunks(d, a, b) =>
          if (!present(d)) ok(status == 404, s"status $status for an absent document")
          else {
            ok(status == 200, s"status $status for a present document")
            if (status == 200) {
              val idx = json.elements().asScala.map(_.get("chunk_index").asInt).toSeq
              ok(idx == (a to math.min(b, snap.totalChunks(d) - 1)), s"chunk range $idx outside [$a,$b]")
            }
          }
        case GetCharts(d) =>
          if (!present(d)) ok(status == 404, s"status $status for an absent document")
          else {
            ok(status == 200, s"status $status for a present document")
            if (status == 200) {
              val ids = json.elements().asScala.map(_.get("id").asLong).toSet
              val all = snap.charts.getOrElse(d, Nil)
              ok(ids.subsetOf(all.toSet), "chart not owned by the document")
              ok(all.forall(c => ids.contains(c) || deletedBy(c, t1)), "stored chart missing")
              ok(ids.forall(c => !deletedBy(c, t0)), "deleted chart listed")
            }
          }
        case GetChart(_, c) =>
          if (status == 404) ok(deletedBy(c, t1), "404 for a stored chart")
          else {
            ok(status == 200, s"status $status")
            ok(!deletedBy(c, t0), "deleted chart served")
            ok(body.length > 8 && body(1) == 'P' && body(2) == 'N' && body(3) == 'G', "not a PNG")
          }
        case Page(a, l) =>
          ok(status == 200, s"status $status")
          val ids = json.elements().asScala.map(_.get("id").asLong).toSeq
          ok(ids == (a + 1 to math.min(a + l, snap.n)), s"keyset page $ids")
        case Hydrate(_, want) =>
          ok(status == 200, s"status $status")
          val ids = json.elements().asScala.map(_.get("id").asLong).toSeq
          ok(ids == want.filter(present).sorted, s"hydrated $ids for $want")
        case other => sys.error(s"not a read: $other")
      } catch {
        case _: com.fasterxml.jackson.core.JsonProcessingException => return false
        case scala.util.control.NonFatal(e) => r.check(ok = false, s"${path(q)}: malformed response: $e")
      }
      true
    }
  }

  final case class Done(q: Req, t0: Long, t1: Long, failed: Boolean)

  /** Runs `reqs` on `Clients` threads; each thread sends its next request
    * only after the previous one completed. Writes hold the write side of
    * a read-write lock: the store has a single writer, and its copy-on-write
    * swap briefly removes the table a concurrent reader would plan against.
    */
  private def drive(reqs: IndexedSeq[Req], port: Int, store: DocumentStore, tablesRoot: Path,
                    check: Checker, ctx: Ctx, tracer: Option[Tracer], r: Report): Seq[Done] = {
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val next = new AtomicInteger(0)
    val lock = new ReentrantReadWriteLock()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val rewrites = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Int, Long)]()
    def worker(): Unit = {
      var i = next.getAndIncrement()
      while (i < reqs.size) {
        val q = reqs(i)
        val t0 = System.nanoTime()
        val u0 = tracer.map(_.spans.nowUs())
        val failed = try {
          if (isWrite(q)) {
            lock.writeLock().lock()
            try {
              val table = if (q.isInstanceOf[Update]) "documents" else "chart_data"
              val before = tracer.map(_ => files(tablesRoot, table))
              val w0 = System.nanoTime()
              q match {
                case Update(d, m) => store.updateDocumentMetainfo(d, m, ctx.now)
                case DeleteChart(d, c) =>
                  r.check(store.deleteChart(d, c), s"deleteChart($d, $c) found no chart")
                  check.markDeleted(c, System.nanoTime())
                case _ =>
              }
              before.foreach { b =>
                val after = files(tablesRoot, table)
                val fresh = after -- b.keySet
                rewrites.add(((System.nanoTime() - w0) / 1e6, fresh.size, fresh.values.sum))
              }
            } finally lock.writeLock().unlock()
            false
          } else {
            lock.readLock().lock()
            try {
              val resp = client.send(HttpRequest.newBuilder(
                URI.create(s"http://127.0.0.1:$port${path(q)}")).GET().build(),
                HttpResponse.BodyHandlers.ofByteArray())
              val ok = check.verify(q, resp.statusCode, resp.body, t0, System.nanoTime())
              if (!ok) System.err.println(s"[serve] ${path(q)} failed: status ${resp.statusCode}: " +
                new String(resp.body, java.nio.charset.StandardCharsets.UTF_8).take(300))
              !ok
            } finally lock.readLock().unlock()
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[serve] $q failed: $e")
            true
        }
        val t1 = System.nanoTime()
        done.add(Done(q, t0, t1, failed))
        tracer.foreach(tr => tr.spans.add(if (isWrite(q)) "serve.write" else "serve.request",
          u0.get, tr.spans.nowUs(), 0L, s"req-$i"))
        i = next.getAndIncrement()
      }
    }
    val threads = (1 to math.min(Clients, ctx.cpus)).map(k => new Thread(() => worker(), s"client-$k"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rw = rewrites.asScala.toSeq
    if (tracer.isDefined) {
      r.metric("store.rewrite_ms", Stats.mean(rw.map(_._1)), "ms")
      r.metric("store.files_rewritten_per_write", Stats.mean(rw.map(_._2.toDouble)), "count")
      r.metric("store.bytes_rewritten_per_write", Stats.mean(rw.map(_._3.toDouble)), "bytes")
    }
    done.asScala.toSeq
  }

  /** Data files of a table and their sizes. */
  private def files(tablesRoot: Path, table: String): Map[String, Long] = {
    val s = Files.walk(tablesRoot.resolve(table))
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def run(ctx: Ctx, st: State, tracer: Option[Tracer], r: Report): Double = {
    val t = tables(ctx, st.dir)
    val o = objects(ctx, st.dir)
    val store = new DocumentStore(ctx.spark, t, o)
    val snap = snapshot(t)
    val reqs = requests(ctx.seed, Deck.size * decks(ctx.seconds), snap)
    val shim = new HttpShim(store, st.dir.resolve("upload").toString)
    val port = shim.start()
    val check = new Checker(snap, r)
    try {
      val w0 = System.nanoTime()
      val done = drive(reqs, port, store, st.dir.resolve("tables"), check, ctx, tracer, r)
      val wallS = (System.nanoTime() - w0) / 1e9
      val reads = done.filter(d => !isWrite(d.q) && !d.failed).map(d => (d.t1 - d.t0) / 1e6)
      val writes = done.filter(d => isWrite(d.q) && !d.failed).map(d => (d.t1 - d.t0) / 1e6)
      r.check(done.size == reqs.size, s"${done.size} of ${reqs.size} requests completed")
      r.attempted += done.size
      r.failed += done.count(_.failed)
      r.metric("ops_per_s", done.size / wallS, "ops/s")
      // read kinds differ in cost several-fold, so the median of all reads
      // falls between two kinds' clusters and jumps between them from run to
      // run; the median is over the most common read, a single cluster
      val docReads = done.filter(d => d.q.isInstanceOf[GetDoc] && !d.failed).map(d => (d.t1 - d.t0) / 1e6)
      if (docReads.nonEmpty) r.metric("p50_ms", Stats.median(docReads), "ms")
      val (pct, tail) = Stats.tail(reads)
      r.metric("tail_ms", tail, "ms")
      r.info("read_tail_percentile") = pct
      r.info("read_samples") = reads.size
      r.info("document_read_samples") = docReads.size
      r.info("write_samples") = writes.size
      val stored = t.storageReportAll().map(_.bytes).sum + Main.bytesUnder(st.dir.resolve("bucket"))
      r.metric("bytes_stored_per_input_byte", stored.toDouble / st.corpus.totalBytes, "ratio")
      tracer.foreach { tr =>
        tr.endTimedSection()
        r.metric("serve.write_p50_ms", Stats.median(writes), "ms")
        attribution(reqs.filterNot(isWrite), port, store, ctx, tr, r)
        LayerProbes.storeFiles(t, r)
        LayerProbes.etl(st.corpus, r)
        LayerProbes.storeReads(ctx, t, o, tr, r)
      }
      wallS / done.size
    } finally shim.stop()
  }

  /** One client, one request at a time, so every Spark job in a request's
    * interval is that request's: jobs per request and the driver time
    * outside jobs. The same operations are then made directly through
    * `DocumentStore`, under a job group, for the HTTP overhead.
    */
  private def attribution(reads: IndexedSeq[Req], port: Int, store: DocumentStore, ctx: Ctx,
                          tr: Tracer, r: Report): Unit = {
    val sample = reads.groupBy(kind).values.flatMap(_.take(2)).toSeq
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val http = sample.map { q =>
      val s = tr.spans.nowUs()
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${path(q)}")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      (q, s, tr.spans.nowUs())
    }
    val sc = ctx.spark.sparkContext
    val direct = sample.zipWithIndex.map { case (q, i) =>
      sc.setJobGroup(s"direct-$i", kind(q))
      val s = tr.spans.nowUs()
      q match {
        case GetDoc(d) => store.getDocument(d).toJSON.collect()
        case GetChunks(d, a, b) =>
          if (store.documentExists(d)) store.getChunks(d, Some(a), Some(b)).toJSON.collect()
        case GetCharts(d) => if (store.documentExists(d)) store.getCharts(d).toJSON.collect()
        case GetChart(d, c) => store.getChartWithImage(d, c)
        case Page(a, l) => store.listDocumentsAfter(a, l).toJSON.collect()
        case Hydrate(_, ids) => store.getDocuments(ids).toJSON.collect()
        case _ =>
      }
      val e = tr.spans.nowUs()
      sc.clearJobGroup()
      e - s
    }
    val jobs = tr.jobs.jobs()
    val perReq = http.zipWithIndex.map { case ((q, s, e), i) =>
      val span = tr.spans.add("serve.http", s, e, 0L, s"probe-$i")
      val mine = jobs.filter(j => j.group.isEmpty && j.startUs >= s && j.startUs <= e)
      mine.foreach(j => tr.spans.add("spark.job", j.startUs, math.max(j.startUs, j.endUs), span, s"probe-$i"))
      val gap = (e - s) - Stats.unionLength(mine.map(j => (math.max(j.startUs, s), math.min(j.endUs, e))))
      (mine.size.toDouble, gap / 1e3, (e - s) / 1e3)
    }
    r.metric("serve.jobs_per_request", Stats.mean(perReq.map(_._1)), "count")
    r.metric("spark.driver_gap_ms_per_request", Stats.mean(perReq.map(_._2)), "ms")
    r.metric("serve.http_overhead_ms",
      Stats.mean(perReq.map(_._3)) - Stats.mean(direct.map(_ / 1e3)), "ms")
  }
}
