package graftbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the TPC-H-style star schema plus the `events`,
  * `documents` and `embeddings` tables every registered query reads,
  * in the column names, types and value domains graft's queries expect.
  * Row counts scale with `sf` (sf 0.01 gives 60k lineitem rows). The
  * same (seed, sf) always writes the same parquet bytes: rows are built
  * on the driver from one `java.util.Random` and written as one file
  * per table.
  */
object TableGen {

  final case class Sizes(customer: Int, supplier: Int, part: Int,
                         orders: Int, lineitem: Int, events: Int,
                         documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).toInt, supplier = (10000 * sf).toInt,
    part = (200000 * sf).toInt, orders = (1500000 * sf).toInt,
    lineitem = (6000000 * sf).toInt, events = (1000000 * sf).toInt,
    documents = (50000 * sf).toInt, embeddings = (50000 * sf).toInt)

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window",
    "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  private val Segments = Seq("MACHINERY", "FURNITURE", "BUILDING",
    "AUTOMOBILE", "HOUSEHOLD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PartAdj = Seq("small", "red", "blue", "hot", "big", "cold",
    "green", "dark")
  private val PartNoun = Seq("ring", "widget", "bolt", "gear", "valve",
    "pipe", "frame", "spring")
  private val PartTypes = Seq("ECONOMY", "SMALL", "MEDIUM", "STANDARD",
    "LARGE", "PROMO")
  private val EventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")

  /** Write every table under `dir`; returns the row counts written. */
  def write(spark: SparkSession, dir: String, sf: Double,
            seed: Long): Map[String, Long] = {
    val n = sizes(sf)
    val rnd = new java.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def cents(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDate, span: Int): LocalDateTime =
      from.plusDays(rnd.nextInt(span).toLong).atStartOfDay()
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      // one plain file per table, as DuckDB's read_parquet expects
      val tmp = s"$dir/_$name"
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$dir/$name.parquet"))
      Files.walk(Paths.get(tmp)).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
      counts(name) = rows.length.toLong
    }
    def f(name: String, t: DataType) = StructField(name, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))),
      Regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until n.customer).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), cents(-999.99, 9999.99), pick(Segments))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until n.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), cents(-999.99, 9999.99))))
    save("part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until n.part).map(i => Row(i.toLong,
        pick(PartAdj) + " " + pick(PartNoun), s"Brand#${1 + rnd.nextInt(25)}",
        pick(PartTypes), 1 + rnd.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val d0 = LocalDate.of(1995, 1, 1)
    save("orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until n.orders).map(i => Row(i.toLong,
        rnd.nextInt(math.max(1, n.customer)).toLong, pick(Seq("P", "O", "F")),
        cents(1000, 500000), day(d0, 2405), pick(Priorities))))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until n.lineitem).map(_ => Row(
        rnd.nextInt(math.max(1, n.orders)).toLong,
        rnd.nextInt(math.max(1, n.part)).toLong,
        rnd.nextInt(math.max(1, n.supplier)).toLong,
        1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        cents(900, 105000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("R", "A", "N")), pick(Seq("O", "F")),
        day(d0.plusDays(1), 2498))))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val users = math.max(2, (15000 * sf).toInt)
    val ts = Array.fill(n.events)((rnd.nextDouble() * spanMicros).toLong).sorted
    save("events", StructType(Seq(f("event_id", LongType),
      f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      ts.indices.map(i => Row(i.toLong, t0.plusNanos(ts(i) * 1000L),
        rnd.nextInt(users).toLong, pick(EventTypes),
        math.max(0.01, math.round(-20 * math.log(1 - rnd.nextDouble()) * 100) / 100.0),
        s"""{"k": ${rnd.nextInt(100)}}""")))
    // documents: 10-99 words from a 30-word vocabulary; one doc in 20
    // is a near-duplicate (an earlier doc's text plus " dup")
    val texts = new Array[String](n.documents)
    val docRows = (0 until n.documents).map { i =>
      val t =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(pick(Vocab)).mkString(" ")
      texts(i) = t
      Row(i.toLong, t, pick(Langs), s"src${i % 20}", t.length.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))), docRows)
    // embeddings: unit vectors in 64 dimensions around ten label centers
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until n.embeddings).map { i =>
        val label = rnd.nextInt(10)
        val v = Array.tabulate(64)(k => centers(label)(k) + 2.0 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    counts.toMap
  }
}
