package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the program's input tables: the TPC-H-shaped star
  * schema, the `events` stream table, and the `documents`/`embeddings`
  * corpora, with the schemas and value domains of the fixtures the
  * board's queries are written against. Row counts follow a scale
  * factor: `sf` 0.01 gives 60k lineitem rows.
  */
object Fixtures {
  val Vocab: Array[String] = ("the a fast slow key order sort table scan merge part " +
    "window small big hash join batch stream spark group query row data " +
    "filter customer line value agg column vector").split(" ")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNoun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  val EmbeddingDim = 64

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Jan2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  def round2(x: Double): Double = math.rint(x * 100) / 100

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int, users: Int, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customers = (150000 * sf).toInt, suppliers = math.max(10, (10000 * sf).toInt),
    parts = (200000 * sf).toInt, orders = (1500000 * sf).toInt,
    events = (1000000 * sf).toInt, users = math.max(15, (150000 * sf).toInt),
    documents = math.max(500, (50000 * sf).toInt),
    embeddings = math.max(500, (20000 * sf).toInt))

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  /** Writes each table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, tables: Seq[Table]): Unit =
    tables.foreach { t =>
      spark.createDataFrame(spark.sparkContext.parallelize(t.rows, 4), t.schema)
        .write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }

  /** The rows at scale `sf` of the tables named in `only`. */
  def generate(sf: Double, seed: Long, only: Set[String]): Seq[Table] = {
    val z = sizes(sf)
    val rnd = new SplittableRandom(seed)
    val out = Seq.newBuilder[Table]
    def add(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (only(name)) out += Table(name, schema, rows)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))

    add("region", StructType.fromDDL("r_regionkey int, r_name string"),
      Regions.indices.map(i => Row(i, Regions(i))))
    add("nation", StructType.fromDDL("n_nationkey int, n_name string, n_regionkey int"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    add("customer", StructType.fromDDL(
      "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"),
      (0 until z.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        round2(rnd.nextDouble(-999.99, 9999.99)), pick(Segments))))
    add("supplier", StructType.fromDDL(
      "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"),
      (0 until z.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        round2(rnd.nextDouble(-999.99, 9999.99)))))
    val retail = Array.tabulate(z.parts)(i => round2(900 + (i % 1000) * 0.1))
    add("part", StructType.fromDDL(
      "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double"),
      (0 until z.parts).map(i => Row(i.toLong, s"${pick(PartAdj)} ${pick(PartNoun)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(PartTypes), 1 + rnd.nextInt(50), retail(i))))

    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    (0 until z.orders).foreach { o =>
      val date = Epoch1995.plusDays(rnd.nextInt(2404))
      val n = 1 + rnd.nextInt(7)
      var total = 0.0
      (1 to n).foreach { ln =>
        val pk = rnd.nextInt(z.parts)
        val qty = (1 + rnd.nextInt(50)).toDouble
        val price = round2(qty * retail(pk) * (1 + rnd.nextDouble(0, 1.3)))
        total += price
        val ship = date.plusDays(1 + rnd.nextInt(121))
        lines += Row(o.toLong, pk.toLong, rnd.nextInt(z.suppliers).toLong, ln, qty, price,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Array("A", "N", "R")),
          if (ship.getYear >= 1998) "O" else "F", ship)
      }
      orders += Row(o.toLong, rnd.nextInt(z.customers).toLong, pick(Array("F", "O", "P")),
        round2(total), date, pick(Priorities))
    }
    add("orders", StructType.fromDDL("o_orderkey bigint, o_custkey bigint, " +
      "o_orderstatus string, o_totalprice double, o_orderdate timestamp_ntz, " +
      "o_orderpriority string"), orders.result())
    add("lineitem", StructType.fromDDL("l_orderkey bigint, l_partkey bigint, " +
      "l_suppkey bigint, l_linenumber int, l_quantity double, l_extendedprice double, " +
      "l_discount double, l_tax double, l_returnflag string, l_linestatus string, " +
      "l_shipdate timestamp_ntz"), lines.result())

    val monthMicros = 30L * 24 * 3600 * 1000000
    val ts = Array.fill(z.events)(rnd.nextLong(monthMicros)).sorted
    add("events", StructType.fromDDL("event_id bigint, ts timestamp_ntz, user_id bigint, " +
      "event_type string, value double, props string"),
      ts.indices.map(i => Row(i.toLong, Jan2024.plusNanos(ts(i) * 1000),
        rnd.nextInt(z.users).toLong, pick(EventTypes), round2(rnd.nextDouble(0.01, 490.02)),
        s"""{"k": ${rnd.nextInt(100)}}""")))

    val texts = corpusTexts(rnd, z.documents)
    add("documents", StructType.fromDDL(
      "doc_id bigint, text string, lang string, source string, n_chars bigint"),
      texts.indices.map(i => Row(i.toLong, texts(i), pick(Langs), s"src${rnd.nextInt(20)}",
        texts(i).length.toLong)))
    add("embeddings", StructType.fromDDL("vec_id bigint, embedding array<float>, label int"),
      (0 until z.embeddings).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong, embedding(rnd, label).toSeq, label)
      })
    out.result()
  }

  def sentence(rnd: SplittableRandom, words: Int): String =
    Seq.fill(words)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  /** Texts of `n` documents; one in twenty repeats an earlier text with a
    * trailing marker word, so near-duplicate detection has work to do.
    */
  def corpusTexts(rnd: SplittableRandom, n: Int): IndexedSeq[String] = {
    val out = new Array[String](n)
    (0 until n).foreach { i =>
      out(i) = if (i > 0 && rnd.nextInt(20) == 0) out(rnd.nextInt(i)) + " dup"
        else sentence(rnd, 10 + rnd.nextInt(80))
    }
    out.toIndexedSeq
  }

  private val LabelCenters: Array[Array[Float]] = {
    val r = new SplittableRandom(7)
    Array.fill(10)(Array.fill(EmbeddingDim)((r.nextDouble(-1, 1) * 0.15).toFloat))
  }

  /** A vector near its label's center. */
  def embedding(rnd: SplittableRandom, label: Int): Array[Float] =
    Array.tabulate(EmbeddingDim)(d =>
      (LabelCenters(label)(d) + rnd.nextDouble(-1, 1) * 0.1).toFloat)

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  def vecFrame(spark: SparkSession, rows: Seq[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
  }
}
