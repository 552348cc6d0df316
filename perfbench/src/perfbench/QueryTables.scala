package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generator for the ten tables the query board reads (TPC-H-style star
  * schema plus documents, embeddings and an events stream), in the shape of
  * the engine's synthetic testdata: the same columns, value domains and
  * planted structure (5% of documents are near-duplicates of another, event
  * values are exponential, embeddings are unit vectors).
  *
  * The rows are drawn from a fixed data seed, so the board's expected row
  * counts are constants; the run seed permutes the physical row order of
  * every table, as a different loader would. */
object QueryTables {
  private val DataSeed = 42L

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)
  private def round2(x: Double) = math.round(x * 100) / 100.0
  private def day(base: LocalDate, plus: Long) =
    Timestamp.valueOf(base.plusDays(plus).atStartOfDay())

  private val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = IndexedSeq("blue", "cold", "hot", "large", "new", "red", "small", "green")
  private val partNoun = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")
  private val vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** All ten tables at scale factor `sf` (lineitem = 6M × sf rows). */
  def generate(sf: Double): Seq[Table] = {
    val r = new SplittableRandom(DataSeed)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = math.max(500, n(50000)); val nVecs = math.max(500, n(20000))

    val region = Table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    val nation = Table("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(r.nextDouble(-999.99, 9999.99)), segments(r.nextInt(segments.size)))))
    val supplier = Table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(r.nextDouble(-999.99, 9999.99)))))
    val part = Table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${partAdj(r.nextInt(partAdj.size))} ${partNoun(r.nextInt(partNoun.size))}",
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderBase = LocalDate.of(1995, 1, 1)
    val orders = Table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        IndexedSeq("F", "O", "P")(r.nextInt(3)), round2(r.nextDouble(1000, 500000)),
        day(orderBase, r.nextInt(2404)), priorities(r.nextInt(priorities.size)))))
    val shipBase = LocalDate.of(1995, 1, 2)
    val lineitem = Table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until nLines).map(_ => Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        round2(r.nextDouble(900, 105000)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        IndexedSeq("A", "N", "R")(r.nextInt(3)), IndexedSeq("F", "O")(r.nextInt(2)),
        day(shipBase, r.nextInt(2498)))))
    val eventStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val monthMicros = 30L * 86400L * 1000000L
    val eventTimes = Array.fill(nEvents)(r.nextLong(monthMicros)).sorted
    val events = Table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong,
        Timestamp.valueOf(eventStart.plusNanos(eventTimes(i) * 1000L)), r.nextInt(nUsers).toLong,
        eventTypes(r.nextInt(eventTypes.size)), round2(-50.0 * math.log(1.0 - r.nextDouble())),
        s"""{"k": ${r.nextInt(100)}}""")))
    val baseText = Array.tabulate(nDocs)(_ =>
      Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" "))
    val text = baseText.clone()
    for (i <- 0 until nDocs if r.nextInt(20) == 0) {
      val j = r.nextInt(nDocs)
      if (j != i) text(i) = text(j) + " dup"
    }
    val documents = Table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map(i => Row(i.toLong, text(i), langs(r.nextInt(langs.size)),
        s"src${i % 20}", text(i).length.toLong)))
    val embeddings = Table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val v = Array.fill(64)(gaussian(r))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each), rows in
    * an order drawn from `seed`; returns the total row count. */
  def write(spark: SparkSession, tables: Seq[Table], dir: String, seed: Long): Long = {
    val rnd = new scala.util.Random(seed)
    tables.foreach { t =>
      spark.createDataFrame(rnd.shuffle(t.rows).asJava, t.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }
    tables.map(_.rows.size.toLong).sum
  }
}
