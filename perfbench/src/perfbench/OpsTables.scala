package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.time.LocalDateTime

/** Generates the operator battery's ten tables from a seed, with the
  * column names and types the queries read (TPC-H-style star schema plus
  * events, documents and embeddings). `sf` scales the row counts of the
  * star schema and events the way the TPC-H scale factor does, `textSf`
  * those of documents and embeddings. Timestamps are written without a
  * zone, so Spark and DuckDB read the same wall-clock values. */
object OpsTables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Array("red", "blue", "green", "small", "large", "steel", "brass", "plated")
  private val Nouns = Array("widget", "bolt", "ring", "gear", "spring", "valve")
  private val Types = Array("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO", "MEDIUM")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  private def rng(seed: Long, table: Int, part: Int) =
    new java.util.Random(seed * 1000003L + table * 7919L + part)

  private def cents(r: java.util.Random, lo: Int, hi: Int): Double =
    (lo * 100L + r.nextInt((hi - lo) * 100 + 1)) / 100.0

  private def day(r: java.util.Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days))

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** Writes every table under `dir` as `<name>.parquet` and returns the
    * row count of each. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
            textSf: Double): Map[String, Long] = {
    val nCust = math.max(150, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(200, (200000 * sf).toInt)
    val nOrders = math.max(1500, (1500000 * sf).toInt)
    val nLines = math.max(6000, (6000000 * sf).toInt)
    val nEvents = math.max(1000, (1000000 * sf).toInt)
    val nUsers = math.max(15, (15000 * sf).toInt)
    val nDocs = math.max(500, (50000 * textSf).toInt)
    val nVecs = math.max(500, (20000 * textSf).toInt)
    val parts = 4
    val t0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def table(name: String, n: Int, st: StructType, id: Int)(row: (java.util.Random, Int) => Row): Long = {
      val per = (n + parts - 1) / parts
      val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
        val r = rng(seed, id, p)
        (p * per until math.min(n, (p + 1) * per)).iterator.map(i => row(r, i))
      }
      spark.createDataFrame(rdd, st).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      n.toLong
    }

    val counts = Seq(
      "region" -> table("region", 5, schema("r_regionkey" -> IntegerType, "r_name" -> StringType), 1) {
        (_, i) => Row(i, Regions(i))
      },
      "nation" -> table("nation", 25, schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
          "n_regionkey" -> IntegerType), 2) {
        (_, i) => Row(i, s"NATION_$i", i % 5)
      },
      "customer" -> table("customer", nCust, schema("c_custkey" -> LongType, "c_name" -> StringType,
          "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), 3) {
        (r, i) => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -999, 9999),
          Segments(r.nextInt(Segments.length)))
      },
      "supplier" -> table("supplier", nSupp, schema("s_suppkey" -> LongType, "s_name" -> StringType,
          "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), 4) {
        (r, i) => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999, 9999))
      },
      "part" -> table("part", nPart, schema("p_partkey" -> LongType, "p_name" -> StringType,
          "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
          "p_retailprice" -> DoubleType), 5) {
        (r, i) => Row(i.toLong, Colors(r.nextInt(Colors.length)) + " " + Nouns(r.nextInt(Nouns.length)),
          s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)), 1 + r.nextInt(50),
          (90000 + i % 1000 * 10) / 100.0)
      },
      "orders" -> table("orders", nOrders, schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
          "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
          "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), 6) {
        (r, i) => Row(i.toLong, r.nextInt(nCust).toLong, "FOP".charAt(r.nextInt(3)).toString,
          cents(r, 1000, 500000), day(r, t0, 2500), Priorities(r.nextInt(Priorities.length)))
      },
      "lineitem" -> table("lineitem", nLines, schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
          "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
          "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampNTZType), 7) {
        (r, _) =>
          val qty = 1 + r.nextInt(50)
          Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
            1 + r.nextInt(7), qty.toDouble, cents(r, 900, 105000), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
            "FO".charAt(r.nextInt(2)).toString, day(r, t0, 2500))
      },
      "events" -> table("events", nEvents, schema("event_id" -> LongType, "ts" -> TimestampNTZType,
          "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
          "props" -> StringType), 8) {
        // 30 days of events at evenly spread microsecond offsets
        (r, i) =>
          val micros = i.toLong * (30L * 86400L * 1000000L / nEvents) + r.nextInt(1000000)
          Row(i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(micros * 1000L),
            r.nextInt(nUsers).toLong, EventTypes(r.nextInt(EventTypes.length)),
            cents(r, 0, 50), s"""{"k": ${r.nextInt(100)}}""")
      },
      "documents" -> table("documents", nDocs, schema("doc_id" -> LongType, "text" -> StringType,
          "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), 9) {
        // every 97th document repeats an earlier one's text and every 31st
        // differs from its predecessor in one word, so the dedup leaves
        // have exact and near duplicates to find
        (r, i) =>
          val text =
            if (i % 97 == 96) Corpora.words(seed, i - 7)
            else if (i % 31 == 30) {
              val w = Corpora.words(seed, i - 1).split(" ")
              w(w.length / 2) = "dup"
              w.mkString(" ")
            } else Corpora.words(seed, i)
          Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
      },
      "embeddings" -> table("embeddings", nVecs, schema("vec_id" -> LongType,
          "embedding" -> ArrayType(FloatType, containsNull = false), "label" -> IntegerType), 10) {
        // ten unit-norm clusters: centroid per label plus gaussian noise
        (r, i) =>
          val label = r.nextInt(10)
          val c = new java.util.Random(seed * 31 + label)
          val v = Array.fill(64)(c.nextGaussian() * 0.5 + r.nextGaussian() * 0.5)
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    counts.toMap
  }
}
