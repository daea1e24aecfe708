package perfbench

import graft.extract.Pipeline
import org.apache.spark.sql.DataFrame

/** Digest of one drained pass: row count and the sum of row hashes. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

/** The extraction checks and the traced replay over a parquet corpus,
  * through `Pipeline.extract` with the production bucket exchange. */
object Extraction {
  /** One untraced pass: extract every page and fold the rows into a digest. */
  def drain(ctx: Ctx, pages: DataFrame): Digest = {
    import ctx.spark.implicits._
    Pipeline.extract(ctx.spark, pages, numBuckets = Main.Buckets)
      .mapPartitions { rows =>
        var n, h = 0L
        rows.foreach { r => n += 1; h += Corpora.rowHash((r.url, r.markdown, r.text)) }
        Iterator.single((n, h))
      }
      .collect().foldLeft(Digest(0, 0)) { case (d, (n, h)) => d + Digest(n, h) }
  }

  /** Figures of one untimed extraction of the corpus: the sum of full-row
    * hashes (what the traced replay must reproduce), changed cells and
    * markdown bytes. */
  final case class Counted(fullRowSum: Long, changedCells: Long, mdBytes: Long)

  def counts(ctx: Ctx, pages: DataFrame): Counted = {
    import ctx.spark.implicits._
    val rows = Pipeline.extract(ctx.spark, pages, numBuckets = Main.Buckets)
      .map(r => (Corpora.rowHash(r), r.changed_cells.toLong, r.markdown.getBytes("UTF-8").length.toLong))
      .collect()
    Counted(rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum)
  }

  /** One traced pass: the same scan and bucket exchange as
    * `Pipeline.extract`, with the per-document work replayed under spans.
    * Returns the rows' full-field hash sum and the replay counters. */
  def tracedDrain(ctx: Ctx, pages: DataFrame): (Digest, ReplayCounts) = {
    import ctx.spark.implicits._
    Pipeline.withBucket(pages, Main.Buckets)
      .repartition(Main.Buckets, $"bucket")
      .as[(String, Array[Byte], String, Int)]
      .mapPartitions { it =>
        val buf = Tracer.buffer
        var n, h = 0L
        var c = ReplayCounts(0, 0, 0, 0)
        it.foreach { case (url, bytes, lang, bucket) =>
          val (row, rc) = Replay.extract(url, bytes, lang, bucket, buf)
          n += 1; h += Corpora.rowHash(row); c = c + rc
        }
        Iterator.single((n, h, c.htmlDocs, c.secondViews, c.switches, c.spacingRouted))
      }
      .collect().foldLeft((Digest(0, 0), ReplayCounts(0, 0, 0, 0))) {
        case ((d, c), (n, h, a, b, s, r)) => (d + Digest(n, h), c + ReplayCounts(a, b, s, r))
      }
  }

  /** Urls whose replayed row differs from `Pipeline.extractOne`'s. */
  def replayMismatches(ctx: Ctx, pages: DataFrame): Long = {
    import ctx.spark.implicits._
    Pipeline.withBucket(pages, Main.Buckets)
      .as[(String, Array[Byte], String, Int)]
      .filter { case (url, bytes, lang, bucket) =>
        Replay.extract(url, bytes, lang, bucket, new Tracer.Buffer)._1 !=
          Pipeline.extractOne(url, bytes, lang, bucket)
      }.count()
  }

  /** The traced run's extract-layer figures: untraced and traced passes
    * interleaved for `seconds`, spans written to `tracePath`. Returns the
    * layer metrics and the number of documents whose replayed row differs
    * from `extractOne`'s. */
  def traced(ctx: Ctx, pages: DataFrame, n: Int, fullRowSum: Long,
             tracePath: java.nio.file.Path): (Map[String, Double], Long) = {
    Tracer.drain()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val self = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var last = Vector.empty[Vector[Span]]
    var counts = ReplayCounts(0, 0, 0, 0)
    var mismatch = false
    ctx.loop(ctx.args.seconds, 2) { _ =>
      untraced += Stats.time(drain(ctx, pages))._2
      System.gc()
      val ((d, c), s) = Stats.time(tracedDrain(ctx, pages))
      tracedS += s
      counts = c
      mismatch ||= d.sum != fullRowSum || d.rows != n
      last = Tracer.drain()
      self += Tracer.selfSeconds(last)
    }
    Tracer.write(tracePath, last)
    val docUs = last.flatten.filter(_.parent < 0).map(_.ns / 1e3)
    def selfOf(k: String) = Stats.mean(self.map(_.getOrElse(k, 0.0)).toSeq)
    val bad = if (mismatch) replayMismatches(ctx, pages) else 0L
    (Map(
      "trace.overhead_frac" -> (Stats.median(tracedS.toSeq) / Stats.median(untraced.toSeq) - 1),
      "sources.docling_ingest_s" -> selfOf("sources.docling_ingest"),
      "extract.html_parse_s" -> selfOf("extract.html_parse"),
      "extract.html_view_s" -> selfOf("extract.html_view"),
      "extract.probe_s" -> selfOf("extract.probe"),
      "extract.probe_second_view_frac" ->
        (if (counts.htmlDocs == 0) 0.0 else counts.secondViews.toDouble / counts.htmlDocs),
      "extract.probe_switch_frac" ->
        (if (counts.secondViews == 0) 0.0 else counts.switches.toDouble / counts.secondViews),
      "extract.pdf_build_s" -> selfOf("extract.pdf_build"),
      "extract.spacing_detect_s" -> selfOf("extract.spacing_detect"),
      "extract.spacing_routed" -> counts.spacingRouted.toDouble,
      "extract.transforms_s" -> selfOf("extract.transforms"),
      "extract.render_s" -> selfOf("extract.render"),
      "extract.post_s" -> selfOf("extract.post"),
      "extract.text_s" -> selfOf("extract.text"),
      "extract.doc_p50_us" -> Stats.percentile(docUs, 0.5),
      "extract.doc_p99_us" -> Stats.percentile(docUs, 0.99)), bad)
  }
}
