package graftbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** One operation of a workload: an HTTP request (SQL on `/db/query`, a
  * TQL script on `/db/tql`, a line-protocol batch on `/metrics/write`) or
  * an in-process query build. `check` is the oracle: it returns an
  * error text for a reply that is wrong. */
final case class Req(cls: String, kind: Req.Kind, text: String, format: String,
                     table: String, check: Array[Byte] => Option[String]) {
  /** Identity of the request for the repeat-consistency check. */
  def key: String = s"$kind|$format|$table|$text"
}

object Req {
  sealed trait Kind
  case object Sql extends Kind
  case object Tql extends Kind
  case object Write extends Kind
  case object Build extends Kind

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val ElapseRe = "\"elapse\":\"[^\"]*\"".r

  /** Reply bytes with the server-measured `elapse` field blanked: the only
    * part of a reply that may differ between two correct runs. */
  def stable(body: Array[Byte]): Array[Byte] = {
    val s = new String(body, "UTF-8")
    if (!s.contains("\"elapse\"")) body
    else ElapseRe.replaceAllIn(s, "\"elapse\":\"\"").getBytes("UTF-8")
  }

  /** Rows of a `/db/query` JSON envelope, cells as text. */
  def jsonRows(body: Array[Byte]): Seq[Seq[String]] = {
    val t = mapper.readTree(body)
    require(t.path("success").asBoolean(false), s"success=false: ${t.path("reason").asText()}")
    t.path("data").path("rows").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toSeq).toSeq
  }

  def csvRows(body: Array[Byte], heading: Boolean): Seq[Seq[String]] =
    new String(body, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      .drop(if (heading) 1 else 0).map(_.split(",", -1).toSeq)

  /** Compare rows cell by cell; numeric cells match within 1e-9 relative
    * (sums of doubles may round differently), other cells exactly. */
  def expectRows(got: Seq[Seq[String]], want: Seq[Seq[Any]]): Option[String] = {
    def same(g: String, w: Any): Boolean = w match {
      case AnyCell => true
      case d: Double => g.toDoubleOption.exists(x => math.abs(x - d) <= 1e-9 * math.max(1.0, math.abs(d)))
      case l: Long => g == l.toString || g.toDoubleOption.contains(l.toDouble)
      case i: Int => g == i.toString || g.toDoubleOption.contains(i.toDouble)
      case s => g == String.valueOf(s)
    }
    if (got.size != want.size) Some(s"rows: got ${got.size}, want ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size < w.size || !w.indices.forall(j => same(g(j), w(j))) =>
        s"row $i: got ${g.mkString("|")}, want ${w.mkString("|")}"
    }
  }

  /** A cell the oracle does not pin (see `tql_query`). */
  case object AnyCell

  def parsed(rows: Array[Byte] => Seq[Seq[String]], want: Seq[Seq[Any]]): Array[Byte] => Option[String] =
    body => try expectRows(rows(body), want) catch {
      case e: Exception => Some(s"unparseable reply: ${e.getMessage}")
    }

  /** A seeded permutation of a fixed multiset: every seed issues the same
    * number of each class, in its own order. */
  def shuffled[T](xs: Seq[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** The static tag table `serving_read` reads: `NAME`/`TIME`/`VALUE`,
  * preloaded through `/metrics/write` in batches of 250 line-protocol
  * lines × 4 numeric fields (1000 rows) over 40 series `m<i>.f<k>`, one
  * line a second. Values are whole cents so sums have one right answer. */
final class TagBatches(seed: Long, val count: Int) {
  import TagBatches._
  private val cents: Array[Array[Long]] = {
    val r = new SplittableRandom(seed * 104729L + 3)
    Array.fill(count, Lines * Fields)(r.nextLong(100000L))
  }
  def tsNs(b: Int, l: Int): Long = T0Ns + (b.toLong * Lines + l) * SecNs
  def payload(b: Int): String = {
    val sb = new StringBuilder
    for (l <- 0 until Lines) {
      sb.append(s"m${l % Measurements},host=h${l % 3} ")
      sb.append((0 until Fields).map(k => s"f$k=${money(cents(b)(l * Fields + k))}").mkString(","))
      sb.append(' ').append(tsNs(b, l)).append('\n')
    }
    sb.toString
  }
  /** (time ns, cents) of series `m<m>.f<k>`, in time order */
  def series(m: Int, k: Int): Seq[(Long, Long)] =
    for (b <- 0 until count; l <- m until Lines by Measurements) yield (tsNs(b, l), cents(b)(l * Fields + k))
}

object TagBatches {
  val Lines = 250
  val Fields = 4
  val Measurements = 10
  val T0Ns: Long = 1700000000000000000L
  val SecNs: Long = 1000000000L
  def ddl(table: String): String =
    s"create tag table $table (name varchar(80) primary key, time datetime basetime, value double summarized)"
  def money(c: Long): Double = BigDecimal(c, 2).toDouble

  def writes(bs: TagBatches, table: String): Vector[Req] =
    Vector.tabulate(bs.count)(b => Req("preload_write", Req.Write, bs.payload(b), "", table, _ => None))
}

/** The `serving_read` request list: SQL and TQL over the generated views
  * and the preloaded tag table, one large-result export class. */
object Serving {
  /** class → requests in every block of 20 */
  val Mix: Seq[(String, Int)] = Seq("sql_point" -> 8, "sql_month" -> 1, "sql_range" -> 2,
    "tql_movavg" -> 2, "tag_agg" -> 3, "tql_query" -> 3, "sql_export" -> 1)

  /** `blocks` consecutive blocks of the mix, each in its own seeded order,
    * so every block (a timed segment) issues the same classes. */
  def requests(seed: Long, blocks: Int, f: Data.Facts, table: String, tags: TagBatches): Vector[Req] = {
    import Req._
    import TagBatches.{Measurements, Fields, SecNs, money}
    val r = new SplittableRandom(seed * 31L + 5)
    val ne = f.eventUser.length
    val points = Vector.fill(12)(r.nextInt(ne))
    val years = Vector.fill(4)(1992 + r.nextInt(10))
    val ranges = Vector.fill(6) { val d = 8036 + r.nextInt(3200); (d, d + 30 + r.nextInt(120)) }
    val users = Vector.fill(8)(r.nextInt(1500))
    def someSeries() = (r.nextInt(Measurements), r.nextInt(Fields))
    val seriesPairs = Vector.fill(6)((someSeries(), someSeries())).map { case (x, y) =>
      if (x == y) (x, ((x._1 + 1) % Measurements, x._2)) else (x, y) }
    val spanS = tags.count.toLong * TagBatches.Lines
    val windows = Vector.fill(8) {
      val len = spanS / 8 + r.nextLong(spanS / 4)
      (someSeries(), r.nextLong(spanS - len), len)
    }
    val exports = Vector.fill(4)(r.nextInt(f.orderDay.length - 2000))
    def pick[T](v: Vector[T]): T = v(r.nextInt(v.size))
    def name(s: (Int, Int)) = s"m${s._1}.f${s._2}"
    val json = jsonRows _
    def csv(h: Boolean) = (b: Array[Byte]) => csvRows(b, h)

    def make(cls: String): Req = cls match {
      case "sql_point" =>
        val k = pick(points)
        Req(cls, Sql, s"SELECT event_id, user_id, event_type, value FROM events WHERE event_id = $k",
          "json", "", parsed(json, Seq(Seq(k.toLong, f.eventUser(k).toLong,
            Data.EventTypes(f.eventType(k)), money(f.eventCents(k))))))
      case "sql_month" =>
        val y = pick(years)
        Req(cls, Sql, "SELECT month(o_orderdate) AS m, count(*) AS n FROM orders " +
          s"WHERE year(o_orderdate) = $y GROUP BY month(o_orderdate) ORDER BY m", "csv", "",
          parsed(csv(true), {
            val counts = new Array[Long](13)
            f.orderDay.foreach { d =>
              val ld = java.time.LocalDate.ofEpochDay(d.toLong)
              if (ld.getYear == y) counts(ld.getMonthValue) += 1
            }
            (1 to 12).filter(counts(_) > 0).map(m => Seq[Any](m, counts(m)))
          }))
      case "sql_range" =>
        val (d1, d2) = pick(ranges)
        def iso(d: Int) = java.time.LocalDate.ofEpochDay(d.toLong).toString
        Req(cls, Sql, "SELECT l_returnflag AS f, count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
          s"WHERE l_shipdate >= '${iso(d1)}' AND l_shipdate < '${iso(d2)}' " +
          "GROUP BY l_returnflag ORDER BY f", "json", "",
          parsed(json, {
            val n = new Array[Long](3); val q = new Array[Long](3)
            var i = 0
            while (i < f.lineDay.length) {
              val d = f.lineDay(i)
              if (d >= d1 && d < d2) { n(f.lineFlag(i)) += 1; q(f.lineFlag(i)) += f.lineQty(i) }
              i += 1
            }
            (0 until 3).filter(n(_) > 0).map(k => Seq[Any](Data.Flags(k), n(k), q(k).toDouble))
          }))
      case "tql_movavg" =>
        val u = pick(users)
        Req(cls, Tql, s"SQL('SELECT ts, value FROM events WHERE user_id = $u ORDER BY ts')\n" +
          "MAP_MOVAVG(1, value(1), 5)\nCSV()\n", "csv", "",
          { val want = f.eventUser.count(_ == u); body => {
            val rows = csvRows(body, heading = false)
            if (rows.size != want) Some(s"rows: got ${rows.size}, want $want")
            else if (rows.exists(_.size != 2)) Some("row arity")
            else None
          }})
      case "tag_agg" =>
        val (x, y) = pick(seriesPairs)
        val want = Seq(x, y).sortBy(name).map { s =>
          val pts = tags.series(s._1, s._2)
          Seq[Any](name(s), pts.size.toLong, pts.map(_._2).sum / 100.0)
        }
        Req(cls, Sql, s"SELECT name, count(*) AS n, sum(value) AS s FROM $table " +
          s"WHERE name IN ('${name(x)}', '${name(y)}') GROUP BY name ORDER BY name", "json", table,
          parsed(json, want))
      // The TIME cell is not pinned: QUERY() over a TIMESTAMP tag table
      // renders 1700000141000000000 as 1700000000 (the SQL door renders
      // it exactly). Row count and VALUE cells are checked.
      case "tql_query" =>
        val (s, from, len) = pick(windows)
        val lo = TagBatches.T0Ns + from * SecNs + SecNs / 2
        val hi = lo + len * SecNs
        Req(cls, Tql, s"QUERY('value', from('$table', '${name(s)}'), between($lo, $hi))\nCSV()\n",
          "csv", table, parsed(csv(false), tags.series(s._1, s._2)
            .collect { case (t, c) if t >= lo && t <= hi => Seq[Any](AnyCell, money(c)) }))
      case "sql_export" =>
        val k = pick(exports)
        Req(cls, Sql, "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag, " +
          s"l_shipdate FROM lineitem WHERE l_orderkey >= $k AND l_orderkey < ${k + 2000}", "csv", "",
          { val want = f.lineOrder.count(o => o >= k && o < k + 2000); body => {
            val rows = csvRows(body, heading = true)
            if (rows.size != want) Some(s"rows: got ${rows.size}, want $want")
            else rows.find(r => r.size != 6 || r.head.toLong < k || r.head.toLong >= k + 2000)
              .map(r => s"row out of range: ${r.mkString("|")}")
          }})
    }
    val block = Mix.flatMap { case (c, w) => Seq.fill(w)(c) }
    (0 until blocks).toVector.flatMap(_ => shuffled(block, r)).map(make)
  }
}

/** The `analytics_sweep` list: passes over `SparkEntry.queries` builders,
  * each pass in its own seeded order; the oracle is the row count.
  * `q_quality_classifier` and `q_timewindow_linear` are left out to keep
  * a run within the benchmark's time budget (see bench/README.md);
  * `q_pagerank` still covers checkpointed iteration. */
object Sweep {
  val Queries: Seq[String] = Seq("q_sql_select", "q_group_basic", "q_join_revenue", "q_asof_join",
    "q_rollup_avg", "q_map_movavg", "q_tql_set", "q_lake_door", "q_stream_avg", "q_pagerank")

  def expectedCounts(f: Data.Facts): Map[String, Long] = {
    val n = f.eventUser.length
    val dayFrom = java.time.LocalDate.of(2024, 1, 5).atStartOfDay()
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    def countEv(p: Int => Boolean) = (0 until n).count(p).toLong
    val dayUs = 86400L * 1000000L
    Map(
      "q_sql_select" -> math.min(200L, countEv(i => f.eventUser(i) == 42 &&
        f.eventTsUs(i) >= dayFrom && f.eventTsUs(i) < dayFrom + 10 * dayUs)),
      "q_group_basic" -> f.eventType.distinct.length.toLong,
      "q_join_revenue" -> f.orderCust.map(f.custNation(_)).distinct.length.toLong,
      "q_asof_join" -> countEv(i => Data.EventTypes(f.eventType(i)) == "signup"),
      "q_rollup_avg" -> (0 until n).map(i => (f.eventUser(i), Math.floorDiv(f.eventTsUs(i), dayUs))).distinct.size.toLong,
      "q_map_movavg" -> countEv(f.eventUser(_) < 20),
      "q_tql_set" -> countEv(f.eventCents(_) > 30000),
      "q_lake_door" -> math.min(500L, (0 until n).filter(f.eventUser(_) < 10)
        .map(i => (f.eventUser(i), Math.floorDiv(f.eventTsUs(i), 300L * 1000000L))).distinct.size.toLong),
      "q_stream_avg" -> countEv(f.eventUser(_) < 20),
      "q_pagerank" -> f.documents.toLong)
  }

  def requests(seed: Long, passes: Int, f: Data.Facts): Vector[Req] = {
    val r = new SplittableRandom(seed * 127L + 1)
    val want = expectedCounts(f)
    (0 until passes).toVector.flatMap(_ => Req.shuffled(Queries, r)).map { q =>
      Req(q, Req.Build, q, "count", "", body => {
        val got = new String(body, "UTF-8")
        if (got == want(q).toString) None else Some(s"count: got $got, want ${want(q)}")
      })
    }
  }
}
