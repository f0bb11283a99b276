package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten fixture tables the declared queries read (`graft.Tables.names`),
  * generated in the schema and value shape of the engine's TPC-H-ish test
  * data: star-schema keys, 2-decimal money, day-granular timestamps
  * without time zone, a 30-day event stream, 500 documents over a small
  * vocabulary with ~5 % near-duplicates, and 500 unit-norm 64-d embeddings
  * in 10 weak clusters. Row counts follow the TPC-H scale factor `sf`;
  * documents and embeddings stay at 500 rows at every scale.
  *
  * Each table is one `<name>.parquet` file. Content depends only on `sf`
  * and `seed`, so a directory is reusable across runs.
  */
object FixtureTables {
  private val ntz = TimestampNTZType

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    new File(dir).mkdirs()
    val nCust = math.max(1, (150000 * sf).toInt)
    val nSupp = math.max(1, (10000 * sf).toInt)
    val nPart = math.max(1, (200000 * sf).toInt)
    val nOrders = math.max(1, (1500000 * sf).toInt)
    val nLines = math.max(1, (6000000 * sf).toInt)
    val nEvents = math.max(1, (1000000 * sf).toInt)
    val nUsers = math.max(1, (15000 * sf).toInt)
    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$dir/.$name.tmp"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      new File(tmp).listFiles().foreach(_.delete())
      new File(tmp).delete()
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(1)
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segments(rc.nextInt(5)))))

    val rs = rng(2)
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(3)
    save("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        adjectives(rp.nextInt(8)) + " " + nouns(rp.nextInt(8)),
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        (9000 + i % 1000) / 10.0)))

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(4)
    val orderFrom = LocalDate.of(1995, 1, 1)
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", ntz),
      StructField("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000.0, 500000.0),
        day(ro, orderFrom, 2404), priorities(ro.nextInt(5)))))

    val rl = rng(5)
    val shipFrom = LocalDate.of(1995, 1, 2)
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", ntz))),
      (0 until nLines).map { _ =>
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(nOrders).toLong, rl.nextInt(nPart).toLong,
          rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), qty,
          money(rl, 900.0 * qty, 4000.0 * qty), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
          Seq("F", "O")(rl.nextInt(2)), day(rl, shipFrom, 2498))
      })

    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    val re = rng(6)
    val span = 30L * 24 * 3600 * 1000000L
    val offsets = Array.fill(nEvents)((re.nextDouble() * span).toLong).sorted
    val epoch = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", ntz), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, epoch.plusNanos(offsets(i) * 1000),
        re.nextInt(nUsers).toLong, eventTypes(re.nextInt(5)),
        math.max(0.01, math.round(-50.0 * math.log(1 - re.nextDouble()) * 100) / 100.0),
        s"""{"k": ${re.nextInt(100)}}""")))

    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
      "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
      "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
      "the", "value", "vector", "window")
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val rd = rng(7)
    val texts = new Array[String](500)
    (0 until 500).foreach { i =>
      texts(i) =
        if (i > 0 && rd.nextInt(100) < 5) texts(rd.nextInt(i)) + " dup"
        else Seq.fill(10 + rd.nextInt(90))(vocab(rd.nextInt(vocab.size))).mkString(" ")
    }
    save("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until 500).map(i => Row(i.toLong, texts(i), langs(rd.nextInt(langs.size)),
        s"src${i % 20}", texts(i).length.toLong)))

    val rv = rng(8)
    val dim = 64
    val centers = Array.fill(10, dim)(rv.nextDouble() * 2 - 1)
    centers.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      (0 until dim).foreach(j => c(j) = c(j) / n * 0.15)
    }
    def gauss(): Double = {
      val u = math.max(1e-12, rv.nextDouble())
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rv.nextDouble())
    }
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(j => centers(label)(j) + gauss() / 8)
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })
  }
}
