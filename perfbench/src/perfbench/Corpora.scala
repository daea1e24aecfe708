package perfbench

import graft.extract.{MarkdownRender, SyntheticPdf}
import graft.sources.{DoclingJsonExport, SyntheticPages, SyntheticPdfPages}
import graft.textkit.Numbers
import java.nio.charset.StandardCharsets.UTF_8

/** One input row: what `Pipeline.extract` reads (url, payload, lang). */
final case class PageRow(url: String, html: Array[Byte], lang: String)

/** What a check expects of one document's output row. */
sealed trait Expect
/** Byte-identical markdown and plain text. */
final case class Exact(markdown: String, text: String) extends Expect
/** Every source-text token appears in the markdown (the lossless-extraction
  * invariant of the PDF and docling queries), under the given backend. */
final case class Covers(source: String, backend: String) extends Expect

/** The generated corpora. Every row derives from (seed, i) alone, so a
  * check can regenerate its expectation inside the task that checks it. */
object Corpora {
  // ---- commit_resume: the skew corpus with binary payloads mixed in -------

  private val HtmlUrl = """https://corpus\.example/reports/doc-(\d+)\.html""".r

  /** Every fifth row is a binary payload (see [[pdf]]); the rest are the
    * html skew corpus, whose giant documents, exact templates and near
    * duplicates sit at the other residues mod 10. */
  def mixed(seed: Long, i: Long): PageRow =
    if (i % 5 == 4) pdf(seed, i / 5)
    else {
      val p = SyntheticPages.skewPage(seed, i, if (i % 10000 == 0) giantScale(seed) else 1)
      PageRow(p.url, p.html, p.lang)
    }

  /** The giant document's page scale. The generator gives a document 1 to
    * 4 pages times the scale; this makes the giant 240 pages for every
    * seed, so its cost does not change with the seed. */
  def giantScale(seed: Long): Int = 240 / SyntheticPages.dirtyDoc(seed, 0).pages.length

  def mixedExpect(seed: Long, url: String): Option[Expect] =
    skewExpect(seed, url).orElse(pdfExpect(seed, url))

  /** The skew corpus reuses the html generator: giant docs scale the page
    * count, exact-template docs copy a template's content under their own
    * url, and near-duplicates append one paragraph after the footer. */
  private def skewExpect(seed: Long, url: String): Option[Expect] = url match {
    case HtmlUrl(s) =>
      val i = s.toLong
      val d =
        if (i % 10000 == 0) SyntheticPages.dirtyDoc(seed, i, giantScale(seed))
        else if (i % 10 == 1 || i % 10 == 2) SyntheticPages.dirtyDoc(seed, 7000000L + i % 37)
        else if (i % 10 == 3) SyntheticPages.dirtyDoc(seed, 8000000L + i % 23)
        else SyntheticPages.dirtyDoc(seed, i)
      val md = SyntheticPages.expectedMarkdown(d)
      val text = SyntheticPages.expectedText(d)
      if (i % 10 == 3) {
        val note = s"Nota aditionala $i pentru exemplarul ${i % 1000} al seriei."
        Some(Exact(md + "\n\n" + note, text + "\n" + note))
      } else Some(Exact(md, text))
    case _ => None
  }

  // ---- binary payloads ------------------------------------------------------

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** 10..100 words from the operator-battery vocabulary. */
  def words(seed: Long, i: Long): String = {
    val rng = new java.util.Random(seed * 0x2545F4914F6CDD1DL ^ i)
    Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
  }

  /** q43's layout: lines of 8 words, pages of 12 lines. */
  private def pdfPages(text: String): Seq[Seq[String]] =
    text.split(" ").grouped(8).map(_.mkString(" ")).toSeq.grouped(12).map(_.toSeq).toSeq

  private val Ciphers = Array("rc4", "aesv2", "aesv3")

  /** Four payload kinds in turn: PDF 1.4 layout documents (every other one
    * Flate-compressed), PDF 1.5 with xref and object streams, encrypted
    * PDFs, and docling-JSON exports of the html generator's documents. */
  def pdf(seed: Long, i: Long): PageRow = {
    val j = i / 4
    (i % 4).toInt match {
      case 0 =>
        PageRow(SyntheticPdfPages.url(j), SyntheticPdfPages.pdfDoc(seed, j)._1, "ro")
      case 1 =>
        PageRow(s"https://corpus.example/pdf15/doc-$j.pdf",
          SyntheticPdf.pdfFor15(pdfPages(words(seed, i))), "en")
      case 2 =>
        PageRow(s"https://corpus.example/encrypted/doc-$j.pdf",
          SyntheticPdf.pdfForEncrypted(pdfPages(words(seed, i)), Ciphers((j % 3).toInt), seed + j),
          "en")
      case _ =>
        PageRow(s"https://corpus.example/docling/doc-$j.json",
          DoclingJsonExport.write(SyntheticPages.dirtyDoc(seed, j)).getBytes(UTF_8), "ro")
    }
  }

  private val PdfUrl = """https://corpus\.example/(pdf|pdf15|encrypted|docling)/doc-(\d+)\.(?:pdf|json)""".r

  def pdfExpect(seed: Long, url: String): Option[Expect] = url match {
    case PdfUrl(kind, s) =>
      val j = s.toLong
      Some(kind match {
        case "pdf" =>
          Covers(MarkdownRender.renderPlainText(SyntheticPdfPages.pdfDoc(seed, j)._2), "pdf-layout")
        case "pdf15" => Covers(words(seed, 4 * j + 1), "pdf-layout")
        case "encrypted" => Covers(words(seed, 4 * j + 2), "pdf-layout")
        case _ => Covers(SyntheticPages.expectedMarkdown(doclingCarried(seed, j)), "docling-json")
      })
    case _ => None
  }

  /** The document as a docling export carries it: docling pictures have no
    * text, so the picture-region text the html generator adds (and the KPI
    * caption it yields) is not part of the payload. */
  private def doclingCarried(seed: Long, j: Long): graft.model.Doc = {
    val d = SyntheticPages.dirtyDoc(seed, j)
    d.copy(items = d.items.map(it =>
      if (it.kind == graft.model.ItemKind.Picture) it.copy(text = "") else it))
  }

  /** True when the row meets its expectation. */
  def meets(e: Expect, markdown: String, text: String, backend: String): Boolean = e match {
    case Exact(md, t) => markdown == md && text == t
    case Covers(src, b) =>
      backend == b &&
        Numbers.coverage(Numbers.tokenize(src), Numbers.tokenize(markdown).toSet) == 1.0
  }

  /** Order-independent 64-bit hash of a row's fields. */
  def rowHash(fields: Product): Long = {
    val h1 = scala.util.hashing.MurmurHash3.productHash(fields, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.productHash(fields, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
}
