package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import java.util.concurrent.Executors

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables with the schemas and value domains of the harness tables
  * the registered queries read (region, nation, customer, supplier, part,
  * orders, lineitem, events, documents, embeddings), with the row counts
  * of the harness's smallest scale. Each table is written as one parquet
  * file under `<dir>/<table>.parquet/`.
  */
object Corpus {

  private val words = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(' ')

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val nCust = 150
    val nSupp = 10
    val nPart = 200
    val nOrders = 1500
    val nEvents = 1000
    val nUsers = 15
    val nDocs = 500

    val tables = Vector.newBuilder[(String, StructType, Seq[Row])]
    def save(name: String, schema: StructType, data: Seq[Row]): Unit =
      tables += ((name, schema, data))
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), pick(r, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999, 9999))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        pick(r, Seq("small", "red", "blue", "hot", "old", "large", "new")) + " " +
          pick(r, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")),
        s"Brand#${1 + r.nextInt(25)}",
        pick(r, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")),
        1 + r.nextInt(50), 900 + (i % 1000) / 10.0)))

    val day0 = LocalDate.of(1995, 1, 1)
    val orders = (0 until nOrders).map { i =>
      (i.toLong, r.nextInt(nCust).toLong, day0.plusDays(r.nextInt(2404)))
    }
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      orders.map { case (k, c, d) => Row(k, c, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000), d.atStartOfDay,
        pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))) })
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 4 * nOrders).map { _ =>
        val (k, _, d) = orders(r.nextInt(nOrders))
        val qty = (1 + r.nextInt(50)).toDouble
        Row(k, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7), qty,
          math.round(money(r, 900, 2100) * qty * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Seq("A", "N", "R")), pick(r, Seq("O", "F")),
          d.plusDays(1 + r.nextInt(120)).atStartOfDay)
      })

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 24 * 3600 * 1000000 / nEvents
    var micros = 0L
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        micros += 1 + r.nextLong(2 * span)
        Row(i.toLong, t0.plusNanos(micros * 1000), r.nextInt(nUsers).toLong,
          pick(r, Seq("click", "signup", "error", "view", "purchase")),
          money(r, 0.01, 490), s"""{"k": ${r.nextInt(10)}}""")
      })

    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map { i =>
        val text = Seq.fill(10 + r.nextInt(80))(pick(r, words.toSeq)).mkString(" ")
        Row(i.toLong, text, pick(r, Seq("en", "en", "en", "de", "es", "fr", "zh")),
          s"src${r.nextInt(20)}", text.length.toLong)
      })

    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nDocs).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + (r.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    // the rows are drawn in a fixed order above; the small write jobs run
    // side by side
    val pool = Executors.newFixedThreadPool(4)
    try tables.result().map { case (name, schema, data) =>
      pool.submit[Unit](() => spark.createDataFrame(spark.sparkContext.parallelize(data, 1),
        schema).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet"))
    }.foreach(_.get())
    finally pool.shutdown()
  }
}
