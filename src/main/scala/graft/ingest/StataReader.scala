package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal Stata `.dta` (version 114 / Stata 10-12) reader — SURVEY §2 S10.
  *
  * The reference ingests INEI survey microdata preferring SPSS/Stata/DBF
  * formats (`/root/reference/perustats/inei/constants.py:19`,
  * `inei/fetcher.py:136-137`; `notebooks/inei/enaho_split_data.ipynb` loads
  * them with `pd.read_spss`/`read_stata`). There is no public Spark reader
  * for these formats, so this implements the documented v114 binary layout
  * directly (the version pandas `to_stata` emits by default — i.e. what the
  * reference's own tooling round-trips through):
  *
  *   header (109 B) → typlist → varlist → srtlist → fmtlist → lbllist →
  *   variable labels → expansion fields → row-major data records.
  *
  * Scale design: the parser is a pure `Array[Byte] => rows` function, so
  * ingest distributes with `binaryFiles` — one task per module file, which
  * is exactly the INEI shape (thousands of per-module files, each small
  * enough for one executor). Strings decode as latin-1, matching the
  * reference's INEI encoding handling (S8). Stata missing codes (values
  * above each numeric type's maximum valid value) become SQL nulls.
  * `.sav`/SPSS files are handled by [[SavReader]]; dBase by [[DbfReader]].
  * Value labels (categoricals) are not decoded — codes pass through.
  */
object StataReader {

  private val HeaderSize = 109 // 4 + 2 + 4 + 81 + 18

  /** Parsed v114 schema: Spark fields plus the per-column Stata type codes
    * (1..244 = fixed-width string, 251..255 = byte/int/long/float/double). */
  final case class DtaLayout(schema: StructType, typeCodes: Array[Int],
      nObs: Int, dataOffset: Int, order: ByteOrder)

  private def sparkType(code: Int): DataType = code match {
    case 251 | 252 | 253 => IntegerType
    case 254 => FloatType
    case 255 => DoubleType
    case w if w >= 1 && w <= 244 => StringType
    case other =>
      throw new IllegalArgumentException(s"unsupported dta type code $other")
  }

  /** Parse header + descriptors; leaves `dataOffset` at the first record. */
  def layout(bytes: Array[Byte]): DtaLayout = {
    require(bytes.length > HeaderSize, "truncated .dta file")
    val version = bytes(0) & 0xff
    require(version == 114,
      s"only .dta version 114 is supported, got $version " +
        "(re-export with `pandas.DataFrame.to_stata(version=114)`)")
    val order =
      if ((bytes(1) & 0xff) == 2) ByteOrder.LITTLE_ENDIAN
      else ByteOrder.BIG_ENDIAN
    val buf = ByteBuffer.wrap(bytes).order(order)
    val nVar = buf.getShort(4).toInt
    val nObs = buf.getInt(6)
    var off = HeaderSize
    val typeCodes = Array.tabulate(nVar)(i => bytes(off + i) & 0xff)
    off += nVar
    def zString(start: Int, width: Int): String = {
      val end = bytes.indexOf(0.toByte, start) match {
        case -1 => start + width
        case z => math.min(z, start + width)
      }
      new String(bytes, start, end - start, "ISO-8859-1")
    }
    val names = Array.tabulate(nVar)(i => zString(off + i * 33, 33))
    off += nVar * 33
    off += (nVar + 1) * 2 // srtlist
    off += nVar * 49 // fmtlist (49 B each in v114)
    off += nVar * 33 // lbllist
    off += nVar * 81 // variable labels
    // expansion fields: (byte dtype, int32 len, payload) until (0, 0)
    var done = false
    while (!done) {
      val dtype = bytes(off) & 0xff
      val len = buf.getInt(off + 1)
      off += 5
      if (dtype == 0 && len == 0) done = true else off += len
    }
    val fields = names.zip(typeCodes).map { case (n, c) =>
      StructField(n, sparkType(c), nullable = true)
    }
    DtaLayout(StructType(fields), typeCodes, nObs, off, order)
  }

  // v114 missing-value thresholds: anything above the max valid value.
  private val ByteMissing = 100
  private val IntMissing = 32740
  private val LongMissing = 2147483620L
  private val FloatMissing = 1.701e38f
  private val DoubleMissing = 8.988e307

  /** Decode all data records of a v114 payload into Rows. */
  def rows(bytes: Array[Byte]): Iterator[Row] = {
    val l = layout(bytes)
    val buf = ByteBuffer.wrap(bytes).order(l.order)
    val widths = l.typeCodes.map {
      case 251 => 1; case 252 => 2; case 253 => 4; case 254 => 4; case 255 => 8
      case w => w
    }
    val rowWidth = widths.sum
    (0 until l.nObs).iterator.map { r =>
      var off = l.dataOffset + r * rowWidth
      val vals = new Array[Any](l.typeCodes.length)
      var i = 0
      while (i < l.typeCodes.length) {
        vals(i) = l.typeCodes(i) match {
          case 251 =>
            val v = bytes(off).toInt; if (v > ByteMissing) null else v
          case 252 =>
            val v = buf.getShort(off).toInt; if (v > IntMissing) null else v
          case 253 =>
            val v = buf.getInt(off); if (v > LongMissing) null else v
          case 254 =>
            val v = buf.getFloat(off); if (v > FloatMissing) null else v
          case 255 =>
            val v = buf.getDouble(off); if (v > DoubleMissing) null else v
          case w =>
            val end = {
              var e = off
              val stop = off + w
              while (e < stop && bytes(e) != 0) e += 1
              e
            }
            new String(bytes, off, end - off, "ISO-8859-1")
        }
        off += widths(i)
        i += 1
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
  }

  private val format = ingest.BinaryFormat(layout(_).schema, rows(_))

  /** Read one local `.dta` file ([[ingest.BinaryFormat.read]]). */
  def readDta(spark: SparkSession, path: String): DataFrame =
    format.read(spark, path)

  /** Distributed read of many `.dta` files, one task per file, refusing
    * schema drift across the glob ([[ingest.BinaryFormat.readFiles]]). */
  def readDtaFiles(spark: SparkSession, pattern: String): DataFrame =
    format.readFiles(spark, pattern)
}
