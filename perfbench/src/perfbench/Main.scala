package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. One workload, one seed, one closed loop: set
  * up, warm up, run timed passes one Spark job at a time for the given
  * seconds, check every output, and print one `PERFBENCH {json}` line.
  *
  * {{{
  * perfbench.Main --workload commit_resume --seed 1 --seconds 10 --trace 0
  *                --threads 4 --work <scratch dir> [--docs N] [--corrupt]
  * }}}
  * `--trace 0` reports the end-to-end metrics; `--trace 1` reports the
  * per-layer ones, adding a traced replay that is never the timed pass.
  * `--corrupt` plants one wrong output before the checks (for the
  * benchmark's own tests). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        threads: Int, work: String, docs: Option[Int], corrupt: Boolean)

  /** One metric: value and unit. */
  type Metrics = Seq[(String, (Double, String))]

  /** `miscounted` names the query leaves whose timed passes disagreed on
    * their row count (ops_battery only). */
  final case class Outcome(attempted: Long, failed: Long, endToEnd: Metrics, layers: Metrics,
                           miscounted: Seq[String] = Nil)

  val Buckets = 64

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val a = Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv.get("--threads").map(_.toInt).getOrElse(4), kv("--work"),
      kv.get("--docs").map(_.toInt), argv.contains("--corrupt"))
    Files.createDirectories(Paths.get(a.work))
    val t0 = System.nanoTime()
    // graft.Bench's session settings, with every scratch file in the run's
    // work directory
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.threads)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: session $sessionS%.3f s")
    val collector = StageCollector.install(spark.sparkContext)
    val ctx = new Ctx(spark, collector, a, sessionS)
    val out = a.workload match {
      case "commit_resume" => CommitResume.run(ctx, a.docs.getOrElse(2000))
      case "ops_battery" =>
        val sf = a.docs.map(_ / 100000.0)
        OpsBattery.run(ctx, sf.getOrElse(OpsBattery.StarSf), sf.getOrElse(OpsBattery.TextSf))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics = if (a.trace) out.layers else out.endToEnd
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "miscounted" -> out.miscounted.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
  }
}

/** Shared per-run state and helpers. */
final class Ctx(val spark: SparkSession, val stages: StageCollector, val args: Main.Args,
                val sessionS: Double) {
  def seed: Long = args.seed
  def sc = spark.sparkContext

  def tagged[A](tag: String)(f: => A): A = StageCollector.tagged(sc, tag)(f)

  /** Metrics of the stages of every job tagged with `tag`. */
  def stagesOf(tag: String): Vector[StageStat] = {
    StageCollector.drain(sc)
    stages.stages(_ == tag)
  }

  def jobsOf(tag: String): Vector[JobStat] = {
    StageCollector.drain(sc)
    stages.jobs(_ == tag)
  }

  /** Writes `n` generated rows to parquet at `dir`. */
  def materialize(dir: String, n: Int, gen: (Long, Long) => PageRow): Unit = {
    import spark.implicits._
    val s = seed
    spark.createDataset(sc.parallelize(0L until n.toLong, 16).map(i => gen(s, i)))
      .write.mode("overwrite").parquet(dir)
  }

  /** Median of three set-ups of the corpus: generate and write it. */
  def setupCorpus(dir: String, n: Int, gen: (Long, Long) => PageRow): Double =
    Stats.median(log("generate", (0 until 3).map(_ => Stats.time(materialize(dir, n, gen))._2)))

  /** Logs phase timings to stderr, for whoever runs the benchmark by hand. */
  def log(what: String, seconds: Seq[Double]): Seq[Double] = {
    System.err.println(f"perfbench: $what ${seconds.map(s => f"$s%.3f").mkString(" ")} s")
    seconds
  }

  /** Runs `pass` until `seconds` have been spent in passes, and at least
    * `minPasses` times. A full GC between passes, outside the timing, keeps
    * one pass's garbage from being charged to the next. */
  def loop[A](seconds: Double, minPasses: Int)(pass: Int => A): Vector[(A, Double)] = {
    val out = Vector.newBuilder[(A, Double)]
    var spent = 0.0
    var k = 0
    while (k < minPasses || spent < seconds) {
      val (r, s) = Stats.time(pass(k))
      out += ((r, s))
      spent += s
      k += 1
      Heap.collect()
    }
    val r = out.result()
    log("passes", r.map(_._2))
    r
  }

  /** End-to-end metrics every workload reports. The pass's work is fixed
    * for a seed, so its throughput is the reciprocal of `pass_s` and is
    * not reported separately. */
  def endToEnd(passS: Seq[Double], setupS: Double): Main.Metrics = Seq(
    "pass_s" -> (Stats.median(passS), "s"),
    "setup_s" -> (setupS, "s"),
    "live_heap_mb" -> (Heap.maxLiveMb, "MB"))
}

object Stats {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1 max 0))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def dirBytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val w = Files.walk(dir)
      try {
        val files = w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toVector
        (files.length.toLong, files.map(Files.size).sum)
      } finally w.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
}

/** The largest heap occupancy seen right after the full collection the
  * benchmark makes after each timed pass: what a pass leaves live. */
object Heap {
  private var maxBytes = 0L

  /** A full collection, then the heap still in use. */
  def collect(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > maxBytes) maxBytes = used
  }

  def maxLiveMb: Double = maxBytes / 1048576.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Layer metrics read from the stage collector for one pass. */
object Layers {
  /** The zero row every layer metric starts from, so each run prints every
    * per-layer name; a workload overwrites the layers it exercises. */
  def zero: Map[String, (Double, String)] = {
    val s = "s"; val c = "count"; val b = "bytes"; val r = "ratio"
    (Seq(
      "failed_frac" -> r, "trace.overhead_frac" -> r,
      "sources.scan_records" -> c, "sources.scan_bytes" -> b, "sources.docling_ingest_s" -> s,
      "pipeline.exchange_bytes" -> b, "pipeline.exchange_records" -> c,
      "pipeline.exchange_write_s" -> s, "pipeline.fetch_wait_s" -> s,
      "pipeline.map_stage_s" -> s, "pipeline.parse_stage_s" -> s,
      "pipeline.parse_stage_cpu_s" -> s, "pipeline.gc_s" -> s, "pipeline.spill_bytes" -> b,
      "pipeline.straggler" -> r, "pipeline.tasks" -> c,
      "extract.html_parse_s" -> s, "extract.html_view_s" -> s, "extract.probe_s" -> s,
      "extract.probe_second_view_frac" -> r, "extract.probe_switch_frac" -> r,
      "extract.pdf_build_s" -> s, "extract.spacing_detect_s" -> s,
      "extract.spacing_routed" -> c,
      "extract.transforms_s" -> s, "extract.changed_cells" -> c, "extract.render_s" -> s,
      "extract.post_s" -> s, "extract.text_s" -> s, "extract.doc_p50_us" -> "us",
      "extract.doc_p99_us" -> "us", "extract.md_bytes" -> b,
      "lineage.skipped_buckets" -> c, "lineage.orphan_files_removed" -> c,
      "lineage.write_stage_s" -> s, "lineage.files_written" -> c,
      "lineage.bytes_written" -> b, "lineage.manifest_bytes" -> b, "lineage.driver_s" -> s,
      "lineage.write_amp" -> r) ++
      OpsBattery.Leaves.flatMap(l => Seq(s"ops.${l}_s" -> s, s"ops.${l}_exchange_bytes" -> b)))
      .map { case (k, u) => k -> (0.0, u) }.toMap
  }

  /** Order of the per-layer names in the output. */
  def ordered(m: Map[String, (Double, String)]): Main.Metrics = m.toSeq.sortBy(_._1)

  /** Exchange, stage-time, GC and spill figures of one pass's stages. */
  def pipeline(st: Seq[StageStat]): Map[String, Double] = {
    val post = st.filter(_.isPostExchange)
    Map(
      "sources.scan_records" -> st.map(_.inputRecords).sum.toDouble,
      "pipeline.exchange_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "pipeline.exchange_records" -> st.map(_.shuffleWriteRecords).sum.toDouble,
      "pipeline.exchange_write_s" -> st.map(_.shuffleWriteNs).sum / 1e9,
      "pipeline.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "pipeline.map_stage_s" -> st.filter(_.isMap).map(_.wallMs).sum / 1e3,
      "pipeline.parse_stage_s" -> post.map(_.wallMs).sum / 1e3,
      "pipeline.parse_stage_cpu_s" -> post.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "pipeline.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "pipeline.straggler" -> post.map(_.straggler).maxOption.getOrElse(0.0),
      "pipeline.tasks" -> st.map(_.tasks).sum.toDouble)
  }

  /** Mean over passes of each figure. */
  def meanOf(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.headOption.map(_.keys).getOrElse(Nil).map(k => k -> Stats.mean(passes.map(_(k)))).toMap

  def put(m: Map[String, (Double, String)], vs: Map[String, Double]): Map[String, (Double, String)] =
    vs.foldLeft(m) { case (acc, (k, v)) =>
      require(acc.contains(k), s"undeclared layer metric $k")
      acc.updated(k, (v, acc(k)._2))
    }
}
