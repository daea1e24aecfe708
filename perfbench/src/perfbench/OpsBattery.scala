package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** ops_battery: the 22 query leaves `graft.Bench` times, by name from
  * `SparkEntry.queries`, over tables generated from the seed. The seed also
  * rotates the order the leaves run in. The warm-up pass writes every
  * leaf's result, and the oracle SQL, for the DuckDB comparison the
  * launcher makes after this JVM exits; the timed passes count rows, as
  * `Bench` does, and must count what the warm-up wrote (checked there too). */
object OpsBattery {
  val Leaves: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders_per_customer",
    "q05_events_hourly", "q10_token_stats", "q12_langid",
    "q14_exact_dedup_groups", "q25_ngram_jaccard_pruned", "q17_minhash_signatures",
    "q18_minhash_lsh_pairs", "q19_simhash", "q29_simhash64_pairs",
    "q23_cosine_lsh_topk", "q27_cosine_ivf_topk", "q49_ivf_trained",
    "q50_paragraph_dedup", "q56_quality_filter", "q30_extract_documents",
    "q34_multimodal_features", "q61_url_canonical_dedup",
    "q64_bpe_token_stats", "q65_ngram_langid")

  /** Table scales. Documents and embeddings have `graft.Bench`'s sf0.1
    * sizes (5,000 and 2,000 rows): the pair-search, dedup and extraction
    * leaves over them take 2-6x their fixed per-job cost there. The star
    * schema and events stay at sf 0.005 (30,000 lineitem rows): their
    * leaves cost about the same from sf0.001 to sf0.1, and the larger
    * tables would not fit the run budget (see `ops_scale` in
    * baseline.json). */
  val StarSf = 0.005
  val TextSf = 0.1

  def run(ctx: Ctx, sf: Double, textSf: Double): Main.Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val tables = s"${a.work}/tables"
    val outDir = s"${a.work}/ops_out"
    val genS = Stats.median(ctx.log("generate",
      (0 until 3).map(_ => Stats.time(OpsTables.write(spark, tables, a.seed, sf, textSf))._2)))
    val r = (a.seed % Leaves.length).toInt
    val order = Leaves.drop(r) ++ Leaves.take(r)

    // warm-up, writing each leaf's rows for the oracle comparison
    val (_, warmS) = Stats.time(order.foreach { name =>
      SparkEntry.queries(name)(spark, tables).write.mode("overwrite").parquet(s"$outDir/$name")
    })
    val oracle = Leaves.map(l => l -> Json.str(SparkEntry.oracleSql(l)))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), Json.obj(oracle))
    if (a.corrupt) {
      // drop one row of one leaf's result: the oracle must notice
      val victim = s"$outDir/${Leaves.head}"
      val df = spark.read.parquet(victim)
      val kept = df.limit(math.max(0, df.count().toInt - 1)).collect()
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
        .write.mode("overwrite").parquet(victim + ".tmp")
      Stats.deleteTree(Paths.get(victim))
      Files.move(Paths.get(victim + ".tmp"), Paths.get(victim))
    }
    ctx.log("warm-up", Seq(warmS))
    val setupS = ctx.sessionS + genS + warmS
    System.gc() // the first timed pass starts from a clean heap, like the rest

    /** A collection, then time for Spark's ContextCleaner to drop the
      * shuffle and broadcast blocks of the pass's 22 queries, so that the
      * collection after the pass measures what the battery keeps live
      * rather than what the cleaner has not reached yet. */
    def settle(): Unit = {
      System.gc()
      Thread.sleep(500)
    }

    def pass(k: Int, trace: Boolean): Map[String, (Long, Double)] = order.map { name =>
      val (n, s) = Stats.time(ctx.tagged(s"timed-$k:$name") {
        val run = () => SparkEntry.queries(name)(spark, tables).count()
        if (trace) Tracer.buffer.root("query", name)(Tracer.buffer.span(s"ops.$name")(run()))
        else run()
      })
      name -> (n, s)
    }.toMap

    // a pass is 22 jobs long, so one pass longer than `seconds` is enough
    val passes = ctx.loop(a.seconds, minPasses = 1) { k =>
      val p = pass(k, trace = false)
      settle()
      p
    }.map(_._1)
    // leaves whose passes disagree on their row count; the launcher also
    // compares the count with the rows the warm-up wrote
    val counts = Leaves.map(l => l -> passes.map(_(l)._1).distinct)
    val miscounted = counts.collect { case (l, c) if c.length > 1 => l }
    Files.writeString(Paths.get(outDir, "counts.json"),
      Json.obj(counts.map { case (l, c) => l -> c.head.toString }))
    val batteryS = passes.map(_.values.map(_._2).sum)
    if (!a.trace)
      Main.Outcome(Leaves.length, miscounted.length,
        ctx.endToEnd(batteryS, setupS), Nil, miscounted)
    else {
      val perLeaf = Leaves.flatMap { l =>
        val st = ctx.stagesOf(s"timed-0:$l")
        Seq(s"ops.${l}_s" -> Stats.median(passes.map(_(l)._2)),
          s"ops.${l}_exchange_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble)
      }
      val pipe = Layers.meanOf(passes.indices.map(k =>
        Layers.pipeline(Leaves.flatMap(l => ctx.stagesOf(s"timed-$k:$l")))))
      // interleaved untraced and traced passes for the tracing overhead
      Tracer.drain()
      var untraced, traced = Vector.empty[Double]
      ctx.loop(a.seconds, minPasses = 1) { k =>
        untraced :+= pass(1000 + 2 * k, trace = false).values.map(_._2).sum
        traced :+= pass(1001 + 2 * k, trace = true).values.map(_._2).sum
      }
      Tracer.write(Paths.get(a.work).resolveSibling(s"traces/${a.workload}-seed${a.seed}.tsv"),
        Tracer.drain())
      val layers = Layers.put(Layers.zero, pipe ++ perLeaf.toMap ++ Map(
        "sources.scan_bytes" -> Stats.dirBytes(Paths.get(tables))._2.toDouble,
        "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(untraced) - 1),
        "failed_frac" -> miscounted.length.toDouble / Leaves.length))
      Main.Outcome(Leaves.length, miscounted.length, Nil, Layers.ordered(layers), miscounted)
    }
  }
}
