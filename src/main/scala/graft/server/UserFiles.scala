package graft.server

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sinks.GoJs

/** User-file upload into JSON columns and retrieval by file id
  * (reference mods/server/http_write.go handleWriteMultipart +
  * http_query.go handleFileQuery, svrmsg.go UserFileData):
  *
  *  - a multipart `/db/write/:table` file field stores the bytes at
  *    `<storeDir>/<uuid-v6>` and inserts the row with the column set to
  *    `{"ID","FN","SZ","CT","SD"}` metadata JSON; the id is a time-
  *    ordered UUIDv6 minted at the row's basetime;
  *  - `/db/query/file/:table/:column/:id` recovers the file by probing
  *    rows whose basetime sits in [id.ts-2s, id.ts+3s] and whose
  *    metadata ID matches, then serves the stored bytes with the
  *    original Content-Type and attachment filename.
  */
object UserFiles {
  case class FilePart(field: String, filename: String, contentType: String,
                      bytes: Array[Byte], storeDir: Option[String] = None)
  case class FileData(id: String, filename: String, size: Long,
                      contentType: String, storeDir: String) {
    def toJson: String =
      s"""{"ID":${GoJs.quote(id)},"FN":${GoJs.quote(filename)},"SZ":$size,""" +
        s""""CT":${GoJs.quote(contentType)},"SD":${GoJs.quote(storeDir)}}"""
  }
  case class ServedFile(bytes: Array[Byte], contentType: String,
                        contentDisposition: String, size: Long)

  /** 100-ns intervals between the Gregorian epoch (1582-10-15) and the
    * Unix epoch. */
  private val GregorianToUnix100Ns = 122192928000000000L

  /** RFC 9562 UUIDv6: the 60-bit timestamp in field order, version 6,
    * random clock-seq/node — time-ordered ids, parseable back to their
    * timestamp (the file query derives its probe window from it). */
  def newV6At(ts: Instant): String = {
    val t100 = GregorianToUnix100Ns +
      ts.getEpochSecond * 10000000L + ts.getNano / 100L
    val timeHigh = (t100 >>> 28) & 0xffffffffL
    val timeMid = (t100 >>> 12) & 0xffffL
    val timeLow = t100 & 0xfffL
    val rnd = new java.security.SecureRandom()
    val clockSeq = rnd.nextInt(1 << 14)
    val node = math.abs(rnd.nextLong()) & 0xffffffffffffL
    f"$timeHigh%08x-$timeMid%04x-${0x6000L | timeLow}%04x-" +
      f"${0x8000 | clockSeq}%04x-$node%012x"
  }

  /** Extract the UUIDv6 timestamp; IllegalArgumentException on malformed
    * ids or non-v6 versions (reference: "invalid id" / "bad timestamp
    * id" replies). */
  def v6Timestamp(id: String): Instant = {
    val uuid =
      try java.util.UUID.fromString(id)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"invalid id, ${Option(e.getMessage).getOrElse(e.toString)}")
      }
    if (uuid.version() != 6)
      throw new IllegalArgumentException(
        s"bad timestamp id, uuid: timestamp is unavailable for version ${uuid.version()}")
    val hi = uuid.getMostSignificantBits
    val t100 = ((hi >>> 32) << 28) | (((hi >>> 16) & 0xffffL) << 12) | (hi & 0xfffL)
    val unix100 = t100 - GregorianToUnix100Ns
    Instant.ofEpochSecond(unix100 / 10000000L, (unix100 % 10000000L) * 100L)
  }

  /** Store the multipart file fields and insert one row carrying their
    * metadata JSON. Returns the per-field FileData map (the write reply's
    * `data.files`). */
  def writeMultipart(spark: SparkSession, table: String,
                     fields: Seq[(String, Any)], files: Seq[FilePart],
                     defaultStoreDir: Option[String] = None): Map[String, FileData] = {
    if (TagTables.descriptorFor(table).isEmpty ||
        !Set("Tag", "Log")(TagTables.typeOf(table)))
      throw new IllegalArgumentException(
        s"Table '$table' is does not supported for files")
    val tableCols = TagTables.columnsOf(table)
    def resolve(k: String): String = tableCols.find(_.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"""column "$k" not found in the table "$table""""))
    var columns = fields.map { case (k, _) => resolve(k) }
    var values = fields.map(_._2)
    // the row's basetime drives the file id's embedded timestamp
    val baseTs: Instant = fields.collectFirst {
      case (k, v) if k.equalsIgnoreCase("TIME") => v match {
        case l: Long => Instant.ofEpochSecond(
          Math.floorDiv(l, 1000000000L), Math.floorMod(l, 1000000000L))
        case t: java.sql.Timestamp => t.toInstant
        case other => Instant.ofEpochMilli(other.toString.toLong / 1000000L)
      }
    }.getOrElse(Instant.now())
    val out = scala.collection.mutable.LinkedHashMap.empty[String, FileData]
    val savedPaths = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    files.foreach { f =>
      val dir0 = f.storeDir.orElse(defaultStoreDir).getOrElse(
        throw new IllegalArgumentException(
          s"""file "${f.field}" requires X-Store-Dir header"""))
      // ${name} tokens expand through the server path map
      // (http_write.go:386-389, WithHttpPathMap)
      val dir = pathMap.foldLeft(dir0) { case (acc, (k, v)) =>
        acc.replace(s"$${$k}", v)
      }
      val col = resolve(f.field)
      val id = newV6At(baseTs)
      val data = FileData(id, f.filename, f.bytes.length.toLong, f.contentType, dir)
      Files.createDirectories(Paths.get(dir))
      val p = Paths.get(dir, id)
      Files.write(p, f.bytes)
      savedPaths += p
      columns = columns :+ col
      values = values :+ data.toJson
      out(f.field.toUpperCase) = data
    }
    // an insert failure removes the just-written files (http_write.go's
    // deferred cleanup; TestHandleFileWriteErrors "insert failure removes
    // just-written file")
    try TagTables.insert(spark, table, columns, values)
    catch {
      case NonFatal(e) =>
        savedPaths.foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => })
        throw e
    }
    out.toMap
  }

  /** `${name}` → real-path replacements applied to X-Store-Dir values
    * (reference WithHttpPathMap; the server registers at least "data"). */
  val pathMap = scala.collection.concurrent.TrieMap[String, String](
    "data" -> sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  /** `/db/query/file/:table/:column/:id` — locate the metadata row via
    * the id's embedded timestamp window and serve the stored bytes. */
  def fileQuery(spark: SparkSession, table: String, column: String,
                fileId: String, tag: Option[String] = None): ServedFile = {
    if (table.isEmpty || column.isEmpty || fileId.isEmpty ||
        table.exists("; \t\r\n()".contains(_)) ||
        column.exists("; \t\r\n()".contains(_)))
      throw new IllegalArgumentException("invalid request")
    val ts = v6Timestamp(fileId)
    TagTables.ensure(spark, table)
    val t = spark.table(table.toLowerCase)
    val cols = t.columns
    def cname(want: String): String =
      cols.find(_.equalsIgnoreCase(want)).getOrElse(want)
    val colName = cname(column)
    val timeC = col(cname("TIME"))
    val loNs = ts.minusSeconds(2).getEpochSecond * 1000000000L +
      ts.minusSeconds(2).getNano
    val hiNs = ts.plusSeconds(3).getEpochSecond * 1000000000L + ts.plusSeconds(3).getNano
    val timeFilter = t.schema.fields.find(_.name == cname("TIME")).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        timeC.between(lit(loNs), lit(hiNs))
      case _ => timeC.between(
        expr(s"timestamp_micros(${loNs / 1000L}L)"),
        expr(s"timestamp_micros(${hiNs / 1000L}L)"))
    }
    var q = t.filter(timeFilter)
      .filter(get_json_object(col(colName), "$.ID") === fileId)
    tag.foreach(tg => q = q.filter(col(cname("NAME")) === tg))
    val row = q.select(col(colName)).limit(1).collect().headOption.getOrElse(
      throw new NoSuchElementException(s"file not found: $fileId"))
    val json = row.getString(0)
    // extract from the tiny flat metadata object
    def jget(key: String): String = {
      val m = ("\"" + key + "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|\\d+)").r
        .findFirstMatchIn(json)
      m.map(x => Option(x.group(2)).getOrElse(x.group(1))).getOrElse("")
        .replace("\\\"", "\"").replace("\\\\", "\\").replace("\\/", "/")
    }
    val storeDir = jget("SD")
    val id = jget("ID")
    val fn = jget("FN")
    val ct = jget("CT")
    val bytes = Files.readAllBytes(Paths.get(storeDir, id))
    ServedFile(bytes,
      if (ct.nonEmpty) ct else "application/octet-stream",
      s"attachment; filename=${if (fn.nonEmpty) fn else id}",
      bytes.length.toLong)
  }
}
