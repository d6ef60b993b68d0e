package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** One generated input file. `nearDupOf` names the document a planted
  * near-duplicate was copied from.
  */
final case class CorpusDoc(name: String, bytes: Array[Byte], nearDupOf: Option[String])

final case class Corpus(docs: IndexedSeq[CorpusDoc]) {
  def totalBytes: Long = docs.map(_.bytes.length.toLong).sum

  def plantedPairs: Seq[(String, String)] =
    docs.flatMap(d => d.nearDupOf.map(o => (o, d.name)))

  /** Writes every document into `dir` with strictly increasing modification
    * times in corpus order, so a file-source stream capped at N files per
    * trigger always cuts the same batches.
    */
  def writeTo(dir: Path): Unit = {
    Files.createDirectories(dir)
    val base = 1_600_000_000_000L
    docs.zipWithIndex.foreach { case (d, i) =>
      val p = dir.resolve(d.name)
      Files.write(p, d.bytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }
}

/** Seeded document generator. The engine sees only the files it writes.
  *
  * Paragraph text follows the `documents.text` rows of the sf0.1 test data:
  * space-separated draws from the same 30-word vocabulary, 8 to 96 words a
  * row. To give the quality filter real work, each document also mixes in
  * words from a generated lexicon at its own rate: rich documents pass the
  * Gopher duplicate-token rule, repetitive ones fail it. Around the text sit
  * the layout markers the decoder understands (form-feed pages, `#` headings,
  * `TABLE:`/`FIGURE:` lines that become rendered charts) and entity-bearing
  * sentences for NER. A share of documents are real `%PDF-` files inside the
  * native reader's subset (some with FlateDecode streams and image XObjects),
  * and a planted share are near-duplicates: copies of a rich text document
  * with one word in 150 replaced, which keeps their shingle Jaccard
  * similarity near 0.95, where MinHash LSH misses a pair with probability
  * below 1e-6.
  */
object Corpus {

  val Sf01Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  private val Stopwords = Array("the", "a", "and", "of", "to", "in", "is", "with")
  private val Persons = Array("Maya Chen", "Omar Haddad", "Lena Fischer",
    "Ravi Kumar", "Sofia Rossi", "Daniel Syahputra", "Aiko Tanaka", "Jonas Berg")
  private val Titles = Array("Dr.", "Ms.", "Mr.", "Prof.")
  private val Orgs = Array("Acme Corp", "Northwind Ltd", "Globex Inc",
    "Initech LLC", "Umbrella Group", "Vandelay Holdings")
  private val Places = Array("London", "Jakarta", "Singapore", "Tokyo", "Paris",
    "Berlin", "New York", "California")
  private val Months = Array("January", "March", "May", "July", "September", "November")

  private final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def double(): Double = r.nextDouble()
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
  }

  private def lexicon(rng: Rng, size: Int): Array[String] = {
    val onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "z", "br", "st", "tr", "pl", "gr")
    val vowels = Array("a", "e", "i", "o", "u", "ai", "eo")
    val codas = Array("", "", "n", "r", "s", "l", "m")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = rng.between(2, 3)
      seen += (0 until syl).map(_ =>
        rng.pick(onsets) + rng.pick(vowels) + rng.pick(codas)).mkString
    }
    seen.toArray
  }

  /** A document before encoding: pages of lines (blank line = paragraph
    * break). Paragraph lines are word sequences so near-duplicates can swap
    * single words.
    */
  private final case class Spec(pages: Seq[Seq[Line]])
  private sealed trait Line
  private final case class Words(ws: Array[String]) extends Line
  private final case class Raw(text: String) extends Line

  private def paragraph(rng: Rng, lex: Array[String], richness: Double, n: Int): Array[String] =
    Array.fill(n) {
      if (rng.chance(richness)) rng.pick(lex)
      else if (rng.chance(0.08)) rng.pick(Stopwords)
      else rng.pick(Sf01Vocab)
    }

  private def entitySentence(rng: Rng): String = {
    val date = rng.int(3) match {
      case 0 => f"20${rng.between(18, 25)}%02d-${rng.between(1, 12)}%02d-${rng.between(1, 28)}%02d"
      case 1 => s"${rng.pick(Months)} ${rng.between(1, 28)} 20${rng.between(18, 25)}"
      case _ => s"Q${rng.between(1, 4)} 20${rng.between(18, 25)}"
    }
    s"${rng.pick(Titles)} ${rng.pick(Persons)} of ${rng.pick(Orgs)} met the " +
      s"team in ${rng.pick(Places)} on $date"
  }

  private def heading(rng: Rng, level: Int): String =
    ("#" * (level - 1)) + (if (level > 1) " " else "") +
      (1 to rng.between(1, 4)).map(_ => rng.pick(Sf01Vocab).capitalize).mkString(" ") + ":"

  val ParagraphsPerPage = 3

  /** Per-block pools: each paragraph of a block takes its length (8–96
    * words), and whether a sub-heading and an entity sentence come with it,
    * from stratified pools, so every block holds the same amount of text.
    */
  private final class Pools(rng: Rng, paragraphs: Int) {
    private def share(p: Double) =
      shuffle(rng, (0 until paragraphs).map(_ < math.round(p * paragraphs))).iterator
    val lengths: Iterator[Int] =
      shuffle(rng, (0 until paragraphs).map(k => 8 + ((k + 0.5) / paragraphs * 89).toInt)).iterator
    val subheading: Iterator[Boolean] = share(0.4)
    val entity: Iterator[Boolean] = share(0.3)
  }

  /** `pages` pages of headed paragraphs; `charts` TABLE/FIGURE lines
    * follow distinct paragraphs.
    */
  private def spec(rng: Rng, lex: Array[String], richness: Double, pages: Int,
                   charts: Int, pools: Pools): Spec = {
    val blocks = (1 to pages).map { _ =>
      (1 to ParagraphsPerPage).map { p =>
        val b = Seq.newBuilder[Line]
        val sub = pools.subheading.next()
        if (p == 1) b += Raw(heading(rng, 1))
        else if (sub) b += Raw(heading(rng, rng.between(2, 3)))
        b += Words(paragraph(rng, lex, richness, pools.lengths.next()))
        if (pools.entity.next()) b += Raw(entitySentence(rng))
        b += Raw("")
        b.result()
      }
    }
    // every chart is placed: with fewer paragraphs than charts, a paragraph
    // takes several
    val slots = shuffle(rng, blocks.indices.flatMap(pg => blocks(pg).indices.map((pg, _))))
    val perSlot = (0 until charts).groupBy(c => slots(c % slots.size)).map { case (k, v) => k -> v.size }
    Spec(blocks.indices.map { pg =>
      blocks(pg).indices.flatMap { k =>
        blocks(pg)(k) ++ Seq.fill(perSlot.getOrElse((pg, k), 0)) {
          if (rng.chance(0.65)) Raw("TABLE: " + rng.pick(Sf01Vocab) + " by " + rng.pick(Sf01Vocab))
          else Raw("FIGURE: " + rng.pick(Sf01Vocab) + " trend")
        }
      }
    })
  }

  private def shuffle[T](rng: Rng, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def lineText(l: Line): String = l match {
    case Words(ws) => ws.mkString(" ")
    case Raw(t)    => t
  }

  private def textBytes(s: Spec): Array[Byte] =
    s.pages.map(_.map(lineText).mkString("\n")).mkString("\n\f")
      .getBytes(StandardCharsets.UTF_8)

  // ---- PDF encoding (classic xref table; content streams optionally
  // FlateDecode; image XObjects surface as captionless pictures) ----

  private def latin1(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def stream(dictExtra: String, data: Array[Byte]): Array[Byte] =
    latin1(s"<< /Length ${data.length}$dictExtra >>\nstream\n") ++ data ++ latin1("\nendstream")

  private def pdfBytes(rng: Rng, s: Spec): Array[Byte] = {
    val flate = rng.chance(0.5)
    val nPages = s.pages.size
    // objects: 1 catalog, 2 pages, 3 font, 4 image, then (page, content) pairs
    val objs = Seq.newBuilder[(Int, Array[Byte])]
    val pageNums = (0 until nPages).map(i => 5 + 2 * i)
    objs += 1 -> latin1("<< /Type /Catalog /Pages 2 0 R >>")
    objs += 2 -> latin1(s"<< /Type /Pages /Kids [${pageNums.map(n => s"$n 0 R").mkString(" ")}] /Count $nPages >>")
    objs += 3 -> latin1("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs += 4 -> stream(" /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
      "/ColorSpace /DeviceGray /BitsPerComponent 8", Array[Byte](0, 85, -86, -1))
    s.pages.zip(pageNums).foreach { case (lines, pn) =>
      val ops = lines.map(l => s"(${lineText(l)}) Tj").mkString("BT /F1 11 Tf 72 760 Td ", " 0 -14 Td ", " ET")
      val raw = latin1(ops)
      val content = if (flate) stream(" /Filter /FlateDecode", deflate(raw)) else stream("", raw)
      val xobj = if (pn == pageNums.head) " /XObject << /Im0 4 0 R >>" else ""
      objs += pn -> latin1(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${pn + 1} 0 R /Resources << /Font << /F1 3 0 R >>$xobj >> >>")
      objs += (pn + 1) -> content
    }
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    out.write(latin1("%PDF-1.4\n"))
    val all = objs.result()
    all.foreach { case (num, body) =>
      offsets(num) = out.size()
      out.write(latin1(s"$num 0 obj\n")); out.write(body); out.write(latin1("\nendobj\n"))
    }
    val xrefAt = out.size()
    val maxNum = all.map(_._1).max
    out.write(latin1(s"xref\n0 ${maxNum + 1}\n0000000000 65535 f \n"))
    (1 to maxNum).foreach(n => out.write(latin1(f"${offsets.getOrElse(n, 0)}%010d 00000 n \n")))
    out.write(latin1(s"trailer << /Size ${maxNum + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"))
    out.toByteArray
  }

  private def paragraphWords(s: Spec): Int =
    s.pages.flatten.collect { case Words(ws) => ws.length }.sum

  /** Copy of `s` with one paragraph word in 150 (at least one) replaced by a
    * vocabulary word, and without its charts: the same text, exported
    * again without figures.
    */
  private def nearCopy(rng: Rng, s: Spec): Spec = {
    val total = paragraphWords(s)
    val swaps = (1 to math.max(1, total / 150)).map(_ => rng.int(total)).toSet
    var at = 0
    Spec(s.pages.map(_.flatMap {
      case Words(ws) =>
        val c = ws.clone()
        c.indices.foreach(i => if (swaps.contains(at + i)) c(i) = rng.pick(Sf01Vocab))
        at += c.length
        Some(Words(c))
      case Raw(t) if t.startsWith("TABLE:") || t.startsWith("FIGURE:") => None
      case other => Some(other)
    }))
  }

  /** `n` documents from `seed`, in blocks of `block` (`n` a multiple of
    * it). Within every block the per-document properties the engine's cost
    * depends on (pages, chart count, lexicon richness) and the paragraph
    * pools are drawn by stratified sampling: each block deals the same
    * multiset of values to its documents in a seeded order. With `block`
    * equal to the ingest's files per micro-batch every batch carries the
    * same work, and corpus totals barely move between seeds. One document
    * of each block, the one with the middle page count, is a PDF with one
    * image; the last is a planted near-duplicate of the block's richest text
    * document of at least 150 paragraph words, so that the original passes
    * the quality filter.
    */
  def generate(seed: Long, n: Int, block: Int): Corpus = {
    require(block >= 3 && n % block == 0, s"$n documents do not split into blocks of $block")
    val rng = new Rng(seed)
    val lex = lexicon(rng, 4000)
    val base = block - 1
    def strata(): IndexedSeq[Double] = shuffle(rng, (0 until base).map(k => (k + 0.5) / base))
    def name(k: Int) = f"doc-$seed%d-$k%05d.pdf"
    Corpus((0 until n / block).flatMap { b =>
      val (uPages, uRich, uCharts) = (strata(), strata(), strata())
      val pages = uPages.map(u => 1 + (u * 4).toInt)
      val pools = new Pools(rng, ParagraphsPerPage * pages.sum)
      val richness = uRich.map(u => 0.15 + 0.7 * u)
      val specs = (0 until base).map(i =>
        spec(rng, lex, richness(i), pages(i), (uCharts(i) * 5).toInt, pools))
      val original = (0 until base).maxBy(i => (paragraphWords(specs(i)) >= 150, richness(i)))
      // the PDF has the middle page count, so PDF bytes match across blocks
      val pdf = (0 until base).filter(_ != original).minBy(i => (math.abs(uPages(i) - 0.5), i))
      val first = b * block
      (0 until base).map { i =>
        CorpusDoc(name(first + i), if (i == pdf) pdfBytes(rng, specs(i)) else textBytes(specs(i)), None)
      } :+ CorpusDoc(name(first + base), textBytes(nearCopy(rng, specs(original))),
        Some(name(first + original)))
    })
  }
}
