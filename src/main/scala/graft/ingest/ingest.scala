package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Driver-side ingest-edge utilities (SURVEY §2.1 S1/S2/S9/S11 and §2.7
  * F17). These run on the driver by design — the reference's sources are
  * paginated HTTP endpoints and HTML pages whose fan-out is bounded by the
  * remote server, not by data volume (SURVEY §6: every reference workload is
  * network-bound). Each utility is transport-injected so the parse logic is
  * offline-testable; results land in `spark.createDataFrame` with explicit
  * schemas (inference is a non-goal, SURVEY §1.3).
  */
object ingest {

  /** S2: minimal HTML `<table>` parser — rows of `<td>`/`<th>` cell text,
    * tags stripped, entities for the common cases, whitespace collapsed.
    * Covers the reference's table shapes (`perustats/MEF/utils/tables.py:
    * 20-73`, inline fixture `:120-160`) without an HTML dependency.
    */
  def parseHtmlTable(html: String): Seq[Seq[String]] = {
    val row = "(?is)<tr[^>]*>(.*?)</tr>".r
    val cell = "(?is)<t[dh][^>]*>(.*?)</t[dh]>".r
    row.findAllMatchIn(html).map { r =>
      cell.findAllMatchIn(r.group(1)).map { c =>
        unescape(c.group(1).replaceAll("(?s)<[^>]*>", ""))
          .replaceAll("\\s+", " ").trim
      }.toSeq
    }.toSeq.filter(_.nonEmpty)
  }

  private def unescape(s: String): String = s
    .replace("&nbsp;", " ").replace("&amp;", "&")
    .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")

  /** S2: header-row HTML table → DataFrame (all-string columns; downstream
    * coercion via `numeric.tryNumeric` etc. as the reference does). */
  def htmlTableToDf(spark: SparkSession, html: String,
      columns: Seq[String]): DataFrame = {
    val rows = parseHtmlTable(html).filter(_.length == columns.length)
    val data = rows.drop(1) // header row
    val schema = StructType(columns.map(StructField(_, StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(data.map(r =>
        org.apache.spark.sql.Row.fromSeq(r)): _*), schema)
  }

  /** S11: generic paged fetch — read page 1, derive the page count from a
    * total, fetch the rest, union. `fetch` is the injected transport
    * (HTTP in production, fixtures in tests). Reference
    * `perustats/MTC/homologacion.py:38-95`. */
  def pagedFetch[T](fetch: Int => Seq[T], totalOf: Seq[T] => Long,
      pageSize: Int): Seq[T] = {
    val first = fetch(1)
    val pages = math.ceil(totalOf(first).toDouble / pageSize).toInt
    first ++ (2 to pages).flatMap(fetch)
  }

  /** S9: ZIP validity probe — local-file-header magic plus a terminal
    * end-of-central-directory record. Reference
    * `perustats/inei/utils/file_utils.py:35-44` (test + size check). */
  def isZipValid(bytes: Array[Byte]): Boolean =
    bytes.length >= 22 &&
      bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes.sliding(4).exists(w =>
        w(0) == 'P' && w(1) == 'K' && w(2) == 5 && w(3) == 6)

  /** The one reader of the positional binary survey formats (`.sav`,
    * `.dta`, `.dbf`): a format is its `schemaOf` (`layout(_).schema`) and
    * its `rows` parser, and these are the two reads each reader exposes. */
  private[graft] final case class BinaryFormat(
      schemaOf: Array[Byte] => StructType,
      rows: Array[Byte] => Iterator[Row]) {

    /** Read one local file (driver-side edge, like the ZIP utility). */
    def read(spark: SparkSession, path: String): DataFrame = {
      val bytes =
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val schema = schemaOf(bytes)
      spark.createDataFrame(
        java.util.Arrays.asList(rows(bytes).toArray: _*), schema)
    }

    /** Distributed read of many files (one task per file — the INEI
      * corpus shape: thousands of per-module files). All files must share
      * the glob's first-file schema: rows are positional, so a file whose
      * layout diverges would silently land values in the wrong columns —
      * it fails loudly, naming its path, instead. */
    def readFiles(spark: SparkSession, pattern: String): DataFrame = {
      val files = spark.sparkContext.binaryFiles(pattern)
      val schema = schemaOf(files.first()._2.toArray())
      spark.createDataFrame(files.flatMap { case (path, pds) =>
        val bytes = pds.toArray()
        val fileSchema = schemaOf(bytes)
        require(fileSchema == schema,
          s"$path schema $fileSchema differs from the glob's first-file " +
            s"schema $schema")
        rows(bytes)
      }, schema)
    }
  }

  /** F17: percent-encode in an explicit charset (the reference quotes INEI
    * names in latin-1, `perustats/inei/utils/http_utils.py:11-13`; built-in
    * `url_encode` is UTF-8-only). Unreserved chars pass through. */
  def urlEncode(s: String, charset: String = "ISO-8859-1"): String =
    s.getBytes(charset).flatMap { b =>
      val c = (b & 0xff).toChar
      val unreserved = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || "-_.~".contains(c)
      if (unreserved) Seq(c) else f"%%${b & 0xff}%02X".toSeq
    }.mkString
}
