package graftbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic tables shaped like the engine's sf0.1 fixture set: the same
  * table names, columns, types and row counts (lineitem 600k, orders 150k,
  * events 100k in January 2024 with µs-naive timestamps, documents 5k, …).
  * Every value comes from `SplittableRandom` streams keyed by (the fixed
  * [[Seed]], table), so every run reads the same bytes of data; a run's
  * `--seed` only draws its request list. The generator keeps the columns
  * the request oracles need in [[Facts]]; the caller drops them before
  * anything is timed. */
object Data {
  /** The data seed; the same for every run. */
  val Seed = 42L
  val EventsFromUs: Long = LocalDate.of(2024, 1, 1).atStartOfDay()
    .toEpochSecond(ZoneOffset.UTC) * 1000000L
  val EventsSpanUs: Long = 30L * 86400L * 1000000L
  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")
  val Flags: Array[String] = Array("A", "N", "R")
  val Langs: Array[String] = Array("en", "en", "de", "es", "fr", "zh")
  val Words: Array[String] = ("a the data spark stream table row column key value " +
    "window group agg join sort hash scan filter query order line part vector " +
    "batch merge fast slow big small customer").split(" ")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Day0 = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  private val Days = 3650
  /** Row counts of the sf0.1 fixture set. */
  val Lineitem = 600000
  val Orders = 150000
  val Events = 100000
  val Customers = 15000
  val Documents = 5000

  /** Oracle inputs: the generated columns the checks read. */
  final class Facts(val eventUser: Array[Int], val eventType: Array[Byte],
                    val eventCents: Array[Long], val eventTsUs: Array[Long],
                    val orderDay: Array[Int], val orderCust: Array[Int],
                    val custNation: Array[Int],
                    val lineOrder: Array[Int], val lineDay: Array[Int],
                    val lineFlag: Array[Byte], val lineQty: Array[Int],
                    val documents: Int)

  private def rng(table: Int) = new SplittableRandom(Seed * 1000003L + table)
  private def cents(r: SplittableRandom, lo: Long, hi: Long): Long = lo + r.nextLong(hi - lo)
  private def money(c: Long): Double = BigDecimal(c, 2).toDouble
  private def dayTs(day: Int): LocalDateTime = LocalDate.ofEpochDay(day.toLong).atStartOfDay()
  def usTs(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  private def field(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** Draw every table and return the [[Facts]]. With `spark` set, also
    * write each table under `dir` as one `<name>.parquet` file (the layout
    * `Tables.load` and the `{events.parquet}` stream glob expect), in a
    * staging directory renamed to `dir` once complete. Without it, the
    * rows are only drawn to fill the facts. */
  def generate(spark: Option[SparkSession], dir: String): Facts = {
    val staging = s"$dir.staging-${ProcessHandle.current().pid()}"
    def rows(n: Int)(f: Int => Row): (Int, Int => Row) = (n, f)
    def write(name: String, schema: StructType, table: (Int, Int => Row)): Unit = {
      val (n, f) = table
      val out = new java.util.ArrayList[Row](if (spark.isDefined) n else 0)
      var i = 0
      while (i < n) { val r = f(i); if (spark.isDefined) out.add(r); i += 1 }
      spark.foreach { s =>
        val tmp = s"$staging/.$name.out"
        s.createDataFrame(out, schema).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, new java.io.File(s"$staging/$name.parquet").toPath)
        Files.deleteTree(new java.io.File(tmp))
      }
    }

    write("region", StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      rows(5)(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
      field("n_regionkey", IntegerType))), rows(25)(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(1)
    val custNation = Array.fill(Customers)(rc.nextInt(25))
    write("customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
      field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
      field("c_mktsegment", StringType))),
      rows(Customers)(i => Row(i.toLong, f"Customer#$i%09d", custNation(i),
        money(cents(rc, -99999, 999999)), Segments(rc.nextInt(5)))))

    val rs = rng(2)
    write("supplier", StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
      field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      rows(1000)(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(cents(rs, -99999, 999999)))))

    val rp = rng(3)
    write("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
      field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType))),
      rows(20000)(i => Row(i.toLong, Words(rp.nextInt(Words.length)) + " " + Words(rp.nextInt(Words.length)),
        s"Brand#${1 + rp.nextInt(25)}", Segments(rp.nextInt(5)), 1 + rp.nextInt(50),
        money(90000L + i % 20000 * 10L))))

    val ro = rng(4)
    val orderDay = new Array[Int](Orders)
    val orderCust = new Array[Int](Orders)
    write("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
      field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
      field("o_orderdate", TimestampNTZType), field("o_orderpriority", StringType))),
      rows(Orders) { i =>
        orderCust(i) = ro.nextInt(Customers)
        orderDay(i) = Day0 + ro.nextInt(Days)
        Row(i.toLong, orderCust(i).toLong, "OFP".charAt(ro.nextInt(3)).toString,
          money(cents(ro, 100000, 50000000)), dayTs(orderDay(i)), Priorities(ro.nextInt(5)))
      })

    val rl = rng(5)
    val lineOrder = new Array[Int](Lineitem)
    val lineDay = new Array[Int](Lineitem)
    val lineFlag = new Array[Byte](Lineitem)
    val lineQty = new Array[Int](Lineitem)
    write("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
      field("l_suppkey", LongType), field("l_linenumber", IntegerType),
      field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
      field("l_discount", DoubleType), field("l_tax", DoubleType),
      field("l_returnflag", StringType), field("l_linestatus", StringType),
      field("l_shipdate", TimestampNTZType))),
      rows(Lineitem) { i =>
        lineOrder(i) = rl.nextInt(Orders)
        lineDay(i) = Day0 + rl.nextInt(Days)
        lineFlag(i) = rl.nextInt(3).toByte
        lineQty(i) = 1 + rl.nextInt(50)
        Row(lineOrder(i).toLong, rl.nextInt(20000).toLong, rl.nextInt(1000).toLong,
          1 + rl.nextInt(7), lineQty(i).toDouble, money(cents(rl, 90000, 10500000)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, Flags(lineFlag(i)),
          if (rl.nextBoolean()) "O" else "F", dayTs(lineDay(i)))
      })

    val re = rng(6)
    val n = Events
    val eventUser = new Array[Int](n)
    val eventType = new Array[Byte](n)
    val eventCents = new Array[Long](n)
    val eventTsUs = new Array[Long](n)
    val step = EventsSpanUs / n
    write("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampNTZType),
      field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
      field("props", StringType))),
      rows(n) { i =>
        eventTsUs(i) = EventsFromUs + i * step + re.nextLong(step)
        eventUser(i) = re.nextInt(1500)
        eventType(i) = re.nextInt(EventTypes.length).toByte
        // exponential-ish amounts, cents-exact
        eventCents(i) = math.min(56000L, (-math.log(1.0 - re.nextDouble()) * 5000.0).toLong)
        Row(i.toLong, usTs(eventTsUs(i)), eventUser(i).toLong, EventTypes(eventType(i)),
          money(eventCents(i)), s"""{"k": ${re.nextInt(100)}}""")
      })

    val rd = rng(7)
    write("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
      field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
      rows(Documents) { i =>
        val text = Seq.fill(10 + rd.nextInt(91))(Words(rd.nextInt(Words.length))).mkString(" ")
        Row(i.toLong, text, Langs(rd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
      })

    val rv = rng(8)
    write("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType)), field("label", IntegerType))),
      rows(2000)(i => Row(i.toLong, Seq.fill(32)((rv.nextDouble() - 0.5).toFloat), rv.nextInt(10))))

    if (spark.isDefined) {
      Files.deleteTree(new java.io.File(dir))
      java.nio.file.Files.move(new java.io.File(staging).toPath, new java.io.File(dir).toPath)
    }
    new Facts(eventUser, eventType, eventCents, eventTsUs, orderDay, orderCust, custNation,
      lineOrder, lineDay, lineFlag, lineQty, Documents)
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
