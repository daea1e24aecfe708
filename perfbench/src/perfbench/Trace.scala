package perfbench

import graft.extract._
import graft.extract.Pipeline.ExtractedRow
import graft.model.Doc
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** One finished span. `parent` is the index of the enclosing span in the
  * same thread's buffer, or -1 for a root; `id` is the document or query
  * the span belongs to. */
final case class Span(name: String, id: String, startNs: Long, endNs: Long, parent: Int) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder. Each thread appends to its own buffer, so a
  * span costs two `nanoTime` calls and an append. Spark local mode runs
  * tasks in this JVM, which is what lets the tasks' spans land here. */
object Tracer {
  final class Buffer {
    private[Tracer] val spans = mutable.ArrayBuffer.empty[Span]
    private var open = -1
    private var id = ""

    /** A root span; every span opened inside it shares its id. */
    def root[A](name: String, rootId: String)(f: => A): A = {
      id = rootId
      span(name)(f)
    }

    def span[A](name: String)(f: => A): A = {
      val parent = open
      val idx = spans.length
      spans += null
      open = idx
      val t0 = System.nanoTime()
      try f
      finally {
        spans(idx) = Span(name, id, t0, System.nanoTime(), parent)
        open = parent
      }
    }
  }

  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Buffer]()
  private val local = new ThreadLocal[Buffer] {
    override def initialValue(): Buffer = { val b = new Buffer; all.add(b); b }
  }

  def buffer: Buffer = local.get()

  /** Every span recorded since the last drain, one vector per thread
    * (parent indexes point into the same vector). Call between passes. */
  def drain(): Vector[Vector[Span]] = {
    val out = Vector.newBuilder[Vector[Span]]
    all.forEach { b =>
      if (b.spans.nonEmpty) out += b.spans.toVector
      b.spans.clear()
    }
    out.result()
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * time its children cover, summed over all spans. */
  def selfSeconds(threads: Seq[Vector[Span]]): Map[String, Double] = {
    val self = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    for (spans <- threads) {
      val childNs = new Array[Long](spans.length)
      for (s <- spans if s.parent >= 0) childNs(s.parent) += s.ns
      for ((s, i) <- spans.zipWithIndex) self(s.name) += s.ns - childNs(i)
    }
    self.map { case (k, v) => k -> v / 1e9 }.toMap
  }

  /** Writes spans as tab-separated lines: name, id, start, end, parent. */
  def write(path: java.nio.file.Path, threads: Seq[Vector[Span]]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path, UTF_8)
    try {
      w.write("thread\tname\tid\tstart_ns\tend_ns\tparent\n")
      for ((spans, t) <- threads.zipWithIndex; s <- spans)
        w.write(s"$t\t${s.name}\t${s.id}\t${s.startNs}\t${s.endNs}\t${s.parent}\n")
    } finally w.close()
  }
}

/** Per-document counters the replay keeps beside its spans. */
final case class ReplayCounts(htmlDocs: Long, secondViews: Long, switches: Long,
                              spacingRouted: Long) {
  def +(o: ReplayCounts): ReplayCounts = ReplayCounts(htmlDocs + o.htmlDocs,
    secondViews + o.secondViews, switches + o.switches, spacingRouted + o.spacingRouted)
}

/** `Pipeline.extractOne` with default options, replayed call by call with a
  * span around each public function it uses. With defaults the page
  * restriction is the identity, the OCR retry is off and, with no OCR
  * view, the suspect-cell repair never fires, so those steps have no call
  * to time. The caller checks every replayed row against `extractOne`. */
object Replay {
  private def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' && b(4) == '-'

  private def isDoclingJson(b: Array[Byte]): Boolean =
    b.length >= 16 && b(0) == '{' &&
      new String(b, 0, math.min(b.length, 4096), UTF_8).contains("\"schema_name\"")

  def extract(url: String, bytes: Array[Byte], lang: String, bucket: Int,
              t: Tracer.Buffer): (ExtractedRow, ReplayCounts) =
    t.root("doc", url) {
      var backend = "pdf-layout"
      var parsed: Doc = null
      var html, second, switched, routed = 0L
      if (isDoclingJson(bytes)) {
        parsed = t.span("sources.docling_ingest") {
          graft.sources.DoclingJsonIngest.parse(new String(bytes, UTF_8), url)
        }
        backend = "docling-json"
      } else if (!isPdf(bytes)) {
        html = 1
        val detailed = t.span("extract.html_parse") {
          HtmlExtract.parseDetailed(url, new String(bytes, UTF_8))
        }
        val std = SpacingFix.Backends.head
        parsed = t.span("extract.html_view") {
          HtmlExtract.applyConfig(detailed, std.linkDensityThreshold, std.minContentChars)
        }
        backend = std.name
        val stdScore = t.span("extract.probe")(SpacingFix.probePage1Score(parsed))
        if (stdScore < 100) {
          second = 1
          val agg = SpacingFix.Backends(1)
          val aggDoc = t.span("extract.html_view") {
            HtmlExtract.applyConfig(detailed, agg.linkDensityThreshold, agg.minContentChars)
          }
          if (t.span("extract.probe")(SpacingFix.probePage1Score(aggDoc)) > stdScore) {
            parsed = aggDoc
            backend = agg.name
            switched = 1
          }
        }
      } else {
        parsed = t.span("extract.pdf_build")(PdfLayout.buildDoc(url, bytes))
      }
      var spacingFixed = 0
      if (isPdf(bytes)) {
        val pagesToFix = t.span("extract.spacing_detect")(SpacingFix.detectSpacingPages(parsed))
        if (!pagesToFix.exists(_.isEmpty)) {
          // the glyph spacing-fix route; no generator reaches it, so it is
          // counted but not given a span of its own
          routed = 1
          val glyphs = PdfDoc.extractGlyphsAuto(bytes)
          val (fixed, report) = SpacingFix.fixSpacedItems(parsed, glyphs, pagesToFix)
          parsed = fixed
          spacingFixed = report.tableCells + report.textItems
        }
      }
      val (doc, counters) = t.span("extract.transforms")(DocTransforms.applyAll(parsed))
      val rendered = t.span("extract.render")(MarkdownRender.render(doc))
      val md = t.span("extract.post")(MarkdownRender.postProcess(rendered))
      val text = t.span("extract.text")(MarkdownRender.renderPlainText(doc))
      val row = ExtractedRow(
        url = url, bucket = bucket, markdown = md, text = text, lang = lang,
        page_count = doc.pages.length,
        item_count = doc.items.length,
        table_count = doc.items.count(_.table.nonEmpty),
        changed_cells = counters.getOrElse("cleaned_cells", 0) +
          counters.getOrElse("normalized_headers", 0) +
          counters.getOrElse("normalized_currencies", 0),
        removed_items = counters.getOrElse("removed_dates", 0) +
          counters.getOrElse("removed_axis_text", 0),
        md_chars = md.length.toLong,
        html_bytes = bytes.length.toLong,
        backend = backend,
        ocr_retried = false,
        ocr_accepted = false,
        spacing_fixed = spacingFixed,
        suspect_repaired = 0)
      (row, ReplayCounts(html, second, switched, routed))
    }
}
