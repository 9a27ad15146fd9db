package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Generates the driver tables at sf0.1: the same ten tables, column
  * names, types, row counts and value distributions as the driver's
  * testdata (uniform TPC-H-like star schema, an `events` stream, a text
  * corpus with 5% near-duplicate copies and 64-dimensional unit
  * embeddings). Every row draws from its own RNG seeded by (table, row
  * id), so the output does not depend on partitioning or thread timing:
  * one fixed seed gives byte-identical tables on every host. Each table
  * lands as a single parquet file, as the driver's do.
  */
object DataGen {
  val Seed = 42L
  private val Day = 86400000L

  private def rng(table: Int, id: Long): SplittableRandom =
    new SplittableRandom(Seed * 1000003L + table * 0x9E3779B97F4A7C15L + id)

  // naive (zone-less) timestamps, stored as TIMESTAMP(MICROS,
  // isAdjustedToUTC=false) exactly like the driver's files
  private def ts(ms: Long): LocalDateTime = tsMicros(ms * 1000L)
  private def tsMicros(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
  // epoch millis of UTC midnights, independent of the JVM's default zone
  private val d1995 = 788918400000L // 1995-01-01
  private val d2024 = 1704067200000L // 2024-01-01
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Statuses = Array("F", "O", "P")
  val ReturnFlags = Array("A", "N", "R")
  val LineStatuses = Array("F", "O")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  val Langs = Array("en", "en", "en", "de", "es", "fr", "zh") // en ~40%, the rest ~15% each
  val Words = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")

  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val LineItems = 600000L
  val Events = 100000L
  val Documents = 5000L
  val Embeddings = 2000L
  val Dim = 64

  /** One lineitem row; `orderKeys` bounds l_orderkey (shifted batches
    * reuse the generator with their own table id and key offset). */
  def lineitemRow(r: SplittableRandom, orderKey: Long): Row = {
    val qty = (1 + r.nextInt(50)).toDouble
    Row(orderKey, r.nextLong(Parts), r.nextLong(Suppliers), 1 + r.nextInt(7), qty,
      money(r, 900.0, 105000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
      ts(d1995 + (1 + r.nextInt(2498)) * Day))
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  private def docText(id: Long): String = {
    val r = rng(9, id)
    val n = 10 + r.nextInt(90)
    Iterator.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")
  }

  private def gaussianUnit(r: SplittableRandom): Array[Float] = {
    val v = Array.fill(Dim) {
      // Box-Muller from two uniforms keeps the draw inside SplittableRandom
      val u1 = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  private def tables: Seq[(String, Long, StructType, Long => Row)] = Seq(
    ("region", 5L, StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      id => Row(id.toInt, Regions(id.toInt))),
    ("nation", 25L, StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      id => Row(id.toInt, s"NATION_$id", (id % 5).toInt)),
    ("customer", Customers, StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      { id => val r = rng(2, id)
        Row(id, f"Customer#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99),
          Segments(r.nextInt(Segments.length))) }),
    ("supplier", Suppliers, StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      { id => val r = rng(3, id)
        Row(id, f"Supplier#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99)) }),
    ("part", Parts, StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      { id => val r = rng(4, id)
        Row(id, Adjectives(r.nextInt(Adjectives.length)) + " " + Nouns(r.nextInt(Nouns.length)),
          s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)), 1 + r.nextInt(50),
          math.round(9000 + id % 1000) / 10.0) }),
    ("orders", Orders, StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
      { id => val r = rng(5, id)
        Row(id, r.nextLong(Customers), Statuses(r.nextInt(3)), money(r, 1000.0, 500000.0),
          ts(d1995 + r.nextInt(2404) * Day), Priorities(r.nextInt(5))) }),
    ("lineitem", LineItems, lineitemSchema,
      { id => val r = rng(6, id); lineitemRow(r, r.nextLong(Orders)) }),
    ("events", Events, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      { id => val r = rng(7, id)
        // evenly spaced over 30 days with sub-slot jitter: ts rises with event_id
        val slot = 30L * Day * 1000L / Events // microseconds
        Row(id, tsMicros(d2024 * 1000L + id * slot + r.nextLong(slot)), r.nextLong(1500),
          EventTypes(r.nextInt(EventTypes.length)),
          math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""") }),
    ("documents", Documents, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      { id => val r = rng(8, id)
        // 5% of documents are a copy of another document plus one token
        val text = if (r.nextInt(20) == 0) docText(r.nextLong(Documents)) + " dup"
          else docText(id)
        Row(id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}", text.length.toLong) }),
    ("embeddings", Embeddings, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      { id => val r = rng(10, id); Row(id, gaussianUnit(r), r.nextInt(10)) }))

  val tableNames: Seq[String] = tables.map(_._1)

  /** Writes every table under `dir` as the single file `<name>.parquet`. */
  def write(spark: SparkSession, dir: String): Unit =
    tables.foreach { case (name, n, schema, row) =>
      val rows = spark.sparkContext.range(0L, n, numSlices = 4).map(row)
      val tmp = Paths.get(dir, s"_$name")
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
