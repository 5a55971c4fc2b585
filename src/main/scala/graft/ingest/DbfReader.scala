package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal dBase III `.dbf` reader — the third leg of SURVEY §2 S10
  * (SPSS/Stata/DBF; `/root/reference/perustats/inei/constants.py:19` lists
  * `.dbf` among the preferred microdata formats). The xBase layout is
  * public and fixed-width ASCII:
  *
  *   32 B header (version, record count, header/record sizes) →
  *   32 B field descriptors (name, type C/N/F/L/D, length, decimals)
  *   terminated by 0x0D → records (1 B deletion flag + fixed-width text).
  *
  * Type mapping: C→string (latin-1, right-trimmed), N→long (or double when
  * the descriptor declares decimals), F→double, L→boolean, D→date
  * (YYYYMMDD). Blank fields and `?` logicals become nulls; records flagged
  * deleted (0x2A) are skipped. Same scale shape as [[StataReader]]: a pure
  * bytes→rows parser distributed one-file-per-task via `binaryFiles`.
  */
object DbfReader {

  final case class DbfField(name: String, ftype: Char, len: Int, dec: Int)

  final case class DbfLayout(schema: StructType, fields: Array[DbfField],
      nRecords: Int, headerSize: Int, recordSize: Int)

  private def sparkType(f: DbfField): DataType = f.ftype match {
    case 'C' => StringType
    case 'N' => if (f.dec > 0) DoubleType else LongType
    case 'F' => DoubleType
    case 'L' => BooleanType
    case 'D' => DateType
    case other =>
      throw new IllegalArgumentException(s"unsupported dbf field type $other")
  }

  def layout(bytes: Array[Byte]): DbfLayout = {
    require(bytes.length > 32, "truncated .dbf file")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = bytes(0) & 0x07
    require(version == 3, s"only dBase III .dbf supported, got ${bytes(0)}")
    val nRecords = buf.getInt(4)
    val headerSize = buf.getShort(8) & 0xffff
    val recordSize = buf.getShort(10) & 0xffff
    val fields = Iterator.from(0)
      .map(i => 32 + i * 32)
      .takeWhile(off => off < headerSize && bytes(off) != 0x0d)
      .map { off =>
        val nameEnd = {
          var e = off
          while (e < off + 11 && bytes(e) != 0) e += 1
          e
        }
        DbfField(new String(bytes, off, nameEnd - off, "ISO-8859-1"),
          (bytes(off + 11) & 0xff).toChar,
          bytes(off + 16) & 0xff, bytes(off + 17) & 0xff)
      }.toArray
    val schema = StructType(fields.map(f =>
      StructField(f.name, sparkType(f), nullable = true)))
    DbfLayout(schema, fields, nRecords, headerSize, recordSize)
  }

  def rows(bytes: Array[Byte]): Iterator[Row] = {
    val l = layout(bytes)
    (0 until l.nRecords).iterator.flatMap { r =>
      val base = l.headerSize + r * l.recordSize
      if (bytes(base) == 0x2a) None // deleted record
      else {
        var off = base + 1
        val vals = new Array[Any](l.fields.length)
        var i = 0
        while (i < l.fields.length) {
          val f = l.fields(i)
          val raw = new String(bytes, off, f.len, "ISO-8859-1")
          val t = raw.trim
          vals(i) = f.ftype match {
            case 'C' => raw.replaceAll("\\s+$", "") // right-trim only
            case 'N' if t.isEmpty => null
            case 'N' => if (f.dec > 0) t.toDouble else t.toLong
            case 'F' => if (t.isEmpty) null else t.toDouble
            case 'L' => t.toUpperCase match {
              case "T" | "Y" => true
              case "F" | "N" => false
              case _ => null
            }
            case 'D' =>
              if (t.length != 8) null
              else java.sql.Date.valueOf(
                s"${t.substring(0, 4)}-${t.substring(4, 6)}-${t.substring(6, 8)}")
          }
          off += f.len
          i += 1
        }
        Some(Row.fromSeq(vals.toIndexedSeq))
      }
    }
  }

  private val format = ingest.BinaryFormat(layout(_).schema, rows(_))

  /** Read one local `.dbf` file ([[ingest.BinaryFormat.read]]). */
  def readDbf(spark: SparkSession, path: String): DataFrame =
    format.read(spark, path)

  /** Distributed read of many `.dbf` files, one task per file, refusing
    * schema drift across the glob ([[ingest.BinaryFormat.readFiles]]). */
  def readDbfFiles(spark: SparkSession, pattern: String): DataFrame =
    format.readFiles(spark, pattern)
}
