package perfbench

import graft.extract.Pipeline
import graft.lineage.Lineage
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

/** commit_resume: the skew corpus, with PDF and docling-JSON payloads mixed
  * in, through `Pipeline.extractAndCommit` as a simulated kill. Set-up runs
  * a first job that commits half the buckets and keeps its output as the
  * killed state. Each pass copies that state, plants orphan files in an
  * uncommitted bucket, and times the job that resumes over the full corpus.
  * The resumed half holds the giant document, so its parse stage shows the
  * straggler. The last timed resume is checked in full; every earlier one
  * is compared with it, outside the timing, before it is deleted. */
object CommitResume {
  val OrphanFiles = 3
  /** The write path keeps getting faster for about a dozen resumes: warm
    * eight times, then time at least five. */
  val WarmResumes = 8
  val MinPasses = 5

  final case class Resume(out: Path, resumeS: Double, newDocs: Long, skipped: Int,
                          orphans: Seq[Path], filesWritten: Long, bytesWritten: Long,
                          manifestBytes: Long, driverS: Double)

  /** What a timed resume must share with the fully checked last one: the
    * documents it committed, the manifest's doc-count sum, the planted
    * orphans still present, and the digest of the whole committed table. */
  final case class Summary(newDocs: Long, manifestDocs: Long, orphansLeft: Int, table: Digest)

  private def bucketOf(b: Int) = pmod(xxhash64(col("url")), lit(b)).cast("int")

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally w.close()
  }

  def run(ctx: Ctx, n: Int): Main.Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${a.work}/pages"
    val genS = ctx.setupCorpus(dir, n, Corpora.mixed)
    val pages = spark.read.parquet(dir)
    val inputBytes = pages.select(sum(length($"html"))).as[Long].head()
    // the giant document's bucket starts the resumed half
    val giant = pages.filter($"url" === graft.sources.SyntheticPages.url(0))
      .select(bucketOf(Main.Buckets)).as[Int].head()
    val inFirstHalf = pmod(bucketOf(Main.Buckets) - lit(giant), lit(Main.Buckets)) >=
      lit(Main.Buckets / 2)
    val killed = Paths.get(a.work, "killed")
    val (_, firstS) = Stats.time(
      Pipeline.extractAndCommit(spark, pages.filter(inFirstHalf), killed.toString, Main.Buckets))
    val committed = Lineage.committedBuckets(killed.toString)
    val orphanBucket = (giant + 1) % Main.Buckets

    def resume(k: Int, tag: String): Resume = {
      val out = Paths.get(a.work, s"resume-$k")
      copyTree(killed, out)
      // a killed job's leftovers: copies of a committed file in a bucket
      // the manifest does not list, which the resume must delete
      val data = out.resolve("data")
      val sample = {
        val w = Files.walk(data.resolve(s"bucket=${committed.min}"))
        try w.filter(_.toString.endsWith(".parquet")).findFirst().get() finally w.close()
      }
      val orphanDir = data.resolve(s"bucket=$orphanBucket")
      Files.createDirectories(orphanDir)
      val orphans = (0 until OrphanFiles).map { j =>
        Files.copy(sample, orphanDir.resolve(f"part-9999$j-orphan.c000.snappy.parquet"))
      }
      val (filesBefore, bytesBefore) = Stats.dirBytes(data)
      val orphanBytes = orphans.map(Files.size).sum
      val ((_, newDocs), resumeS) =
        Stats.time(ctx.tagged(tag)(Pipeline.extractAndCommit(spark, pages, out.toString, Main.Buckets)))
      val (filesAfter, bytesAfter) = Stats.dirBytes(data)
      val snaps = Lineage.snapshots(out.toString)
      val latest = snaps.last._1
      // buckets the resume carried over from the killed state's manifest
      // unchanged, rather than extracting them again
      val carried = snaps.last._2.count(snaps.init.last._2.contains)
      val jobS = union(ctx.jobsOf(tag).map(j => (j.startMs, j.endMs))) / 1e3
      Resume(out, resumeS, newDocs, carried, orphans,
        filesAfter - filesBefore + OrphanFiles, bytesAfter - bytesBefore + orphanBytes,
        Files.size(out.resolve(s"_lineage/snapshot-$latest.json")), math.max(0.0, resumeS - jobS))
    }

    val warmS = ctx.log("warm-up", Seq(firstS) ++
      (0 until WarmResumes).map(k => Stats.time(Stats.deleteTree(resume(-1 - k, "warm").out))._2)).sum
    val setupS = ctx.sessionS + genS + warmS
    System.gc() // the first timed pass starts from a clean heap, like the rest
    var prev: Option[Path] = None
    val (resumes, summaries) = ctx.loop(a.seconds, MinPasses) { k =>
      prev.foreach(Stats.deleteTree)
      val r = resume(k, s"timed-$k")
      prev = Some(r.out)
      (r, summarize(ctx, r))
    }.map(_._1).unzip
    ctx.log("resumes", resumes.map(_.resumeS))
    val last = resumes.last
    val lastFailed = check(ctx, last, n)
    // a timed resume that differs from the checked one committed a table
    // that was never checked: count every document as failed
    val failed =
      if (lastFailed > 0 || summaries.forall(_ == summaries.last)) lastFailed else n.toLong
    val resumeS = resumes.map(_.resumeS)
    val resumed = last.newDocs
    if (!a.trace)
      Main.Outcome(n, failed, ctx.endToEnd(resumeS, setupS), Nil)
    else {
      val perPass = resumes.indices.map(k => ctx.stagesOf(s"timed-$k"))
      val pipe = Layers.meanOf(perPass.map(Layers.pipeline))
      val counts = Layers.pipeline(perPass.head).filter { case (k, _) =>
        k.endsWith("_records") || k.endsWith("_bytes") || k == "pipeline.tasks"
      }
      val writeS = Stats.mean(perPass.map(_.filter(_.writes).map(_.wallMs).sum / 1e3))
      // the extract layers are replayed over the half the resumed job parses
      val resumedHalf = pages.filter(!inFirstHalf)
      val chk = Extraction.counts(ctx, resumedHalf)
      val (ext, bad) = Extraction.traced(ctx, resumedHalf, resumed.toInt, chk.fullRowSum,
        Paths.get(a.work).resolveSibling(s"traces/${a.workload}-seed${a.seed}.tsv"))
      val allFailed = failed + bad
      val layers = Layers.put(Layers.zero, pipe ++ counts ++ ext ++ Map(
        "sources.scan_bytes" -> Stats.dirBytes(Paths.get(dir))._2.toDouble,
        "extract.changed_cells" -> chk.changedCells.toDouble,
        "extract.md_bytes" -> chk.mdBytes.toDouble,
        "lineage.skipped_buckets" -> last.skipped.toDouble,
        "lineage.orphan_files_removed" -> last.orphans.count(p => !Files.exists(p)).toDouble,
        "lineage.write_stage_s" -> writeS,
        "lineage.files_written" -> last.filesWritten.toDouble,
        "lineage.bytes_written" -> last.bytesWritten.toDouble,
        "lineage.manifest_bytes" -> last.manifestBytes.toDouble,
        "lineage.driver_s" -> Stats.mean(resumes.map(_.driverS)),
        "lineage.write_amp" -> Stats.dirBytes(last.out.resolve("data"))._2.toDouble / inputBytes,
        "failed_frac" -> allFailed.toDouble / n))
      Main.Outcome(n, allFailed, Nil, Layers.ordered(layers))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var start = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (start == Long.MinValue || s > end) {
        if (start != Long.MinValue) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  /** Reads a resume's output, outside the timing, for the comparison. */
  def summarize(ctx: Ctx, c: Resume): Summary = {
    val spark = ctx.spark
    import spark.implicits._
    val table = spark.read.parquet(c.out.resolve("data").toString)
      .select($"url", $"markdown", $"text").as[(String, String, String)]
      .mapPartitions { it =>
        var n, h = 0L
        it.foreach { r => n += 1; h += Corpora.rowHash(r) }
        Iterator.single((n, h))
      }
      .collect().foldLeft(Digest(0, 0)) { case (d, (n, h)) => d + Digest(n, h) }
    Summary(c.newDocs, Lineage.snapshots(c.out.toString).last._2.map(_.docCount).sum,
      c.orphans.count(p => Files.exists(p)), table)
  }

  /** Checks the committed table: every url exactly once with its expected
    * markdown and text, manifest doc counts summing to `n`, and the planted
    * orphans gone. Each wrong, missing or duplicated url, each orphan left
    * and each document the manifest miscounts is one failure. */
  def check(ctx: Ctx, c: Resume, n: Int): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val corrupt = ctx.args.corrupt
    val rows = spark.read.parquet(c.out.resolve("data").toString)
      .select($"url", $"markdown", $"text", $"backend").as[(String, String, String, String)]
      .mapPartitions { it =>
        it.map { case (url, md0, text, backend) =>
          val md = if (corrupt && url.endsWith("/doc-0.html")) md0 + " " else md0
          (url, Corpora.mixedExpect(seed, url).exists(Corpora.meets(_, md, text, backend)))
        }
      }.collect()
    val distinct = rows.map(_._1).distinct.length
    val manifest = Lineage.snapshots(c.out.toString).last._2.map(_.docCount).sum
    rows.count(!_._2) + (rows.length - distinct) + math.max(0, n - distinct) +
      c.orphans.count(p => Files.exists(p)) + math.abs(manifest - n)
  }
}
