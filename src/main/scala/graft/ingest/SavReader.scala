package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** SPSS system-file (`.sav`) reader — completes SURVEY §2 S10.
  *
  * The reference ingests INEI survey microdata preferring SPSS first
  * (`/root/reference/perustats/inei/constants.py:19`,
  * `inei/fetcher.py:136-137`; `notebooks/inei/enaho_split_data.ipynb` loads
  * modules with `pd.read_spss`). INEI distributes ENAHO modules as `.sav`,
  * so this is the format the flagship pipeline actually meets first. There
  * is no public Spark reader; the binary layout is public knowledge via the
  * GNU PSPP project's system-file format documentation, implemented here
  * directly:
  *
  *   header `$FL2` (176 B) → type-2 variable records (numeric / string with
  *   `-1` continuations for widths > 8) → type-3/4 value-label records →
  *   type-6 documents → type-7 extension subrecords (subtype 13 long
  *   variable names and subtype 14 very-long-string segmentation are
  *   honored; the rest skip generically) →
  *   type-999 dictionary terminator → case data, either raw 8-byte elements
  *   or bytecode-compressed (command codes: 0 pad, 1..251 biased numeric,
  *   252 EOF, 253 literal block follows, 254 eight spaces, 255 sysmis),
  *   or zlib-wrapped bytecode (`$FL3` / compression 2, the `.zsav`
  *   variant — inflated via the trailer's block table, JDK Inflater).
  *
  * Semantics match the reference's pandas path: every SPSS numeric is a
  * DOUBLE (`pd.read_spss` yields float64), strings decode latin-1 with
  * trailing space padding stripped (S8 encoding handling), and both the
  * system-missing value and each variable's declared user-missing values
  * (discrete and range forms) become SQL nulls. Value labels pass through
  * as codes, like [[StataReader]].
  *
  * Scale design: identical to [[StataReader]] — the parser is a pure
  * `Array[Byte] => rows` function distributed one-task-per-file via
  * `binaryFiles`, which matches the INEI corpus shape (thousands of
  * per-module files). A cross-file schema guard fails loudly on drift.
  */
object SavReader {

  private val HeaderSize = 176
  /** SPSS system-missing: the most-negative finite double. */
  private val SysMis = -java.lang.Double.MAX_VALUE

  /** Per-variable user-missing declaration. `lo`/`hi` bound an inclusive
    * range (NaN when absent); `discrete` lists individual missing codes. */
  final case class MissingSpec(discrete: Array[Double], lo: Double, hi: Double) {
    def matches(v: Double): Boolean =
      (!lo.isNaN && v >= lo && v <= hi) || discrete.exists(_ == v)
  }
  private val NoMissing = MissingSpec(Array.empty, Double.NaN, Double.NaN)

  /** Parsed dictionary. `widths(i)` is 0 for numeric, else the LOGICAL
    * string width (a very long string's full subtype-14 length, not the
    * 255 of its first segment). `segWidths(i)` lists the dictionary widths
    * of the variable's storage segments — a single entry except for very
    * long strings, where SPSS splits the value into 255-wide segments of
    * 252 data bytes each; each segment spans `ceil(max(w,8)/8)` 8-byte
    * data elements. `compression`: 0 raw, 1 bytecode, 2 zlib-wrapped
    * bytecode (`.zsav`). */
  final case class SavLayout(schema: StructType, widths: Array[Int],
      segWidths: Array[Array[Int]], missing: Array[MissingSpec],
      compression: Int, bias: Double, nCases: Int, dataOffset: Int,
      order: ByteOrder)

  /** Data bytes a very-long-string segment contributes (the remaining 3 of
    * its 255-byte width are padding). */
  private val SegData = 252

  private def elementsOf(width: Int): Int =
    if (width <= 0) 1 else (width + 7) / 8

  /** Parse header + all dictionary records; `dataOffset` lands on the first
    * data byte after the type-999 terminator. */
  def layout(bytes: Array[Byte]): SavLayout = {
    require(bytes.length > HeaderSize, "truncated .sav file")
    val sig = new String(bytes, 0, 4, "ISO-8859-1")
    require(sig == "$FL2" || sig == "$FL3",
      "not an SPSS system file (missing $FL2/$FL3 signature)")
    // layout_code (int32 at offset 64) is always 2; its byte order reveals
    // the writer's endianness.
    val le = ByteBuffer.wrap(bytes, 64, 4).order(ByteOrder.LITTLE_ENDIAN)
      .getInt == 2
    val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val buf = ByteBuffer.wrap(bytes).order(order)
    require(buf.getInt(64) == 2, s"unsupported .sav layout code ${buf.getInt(64)}")
    val compression = buf.getInt(72)
    require(compression >= 0 && compression <= 2,
      s"unsupported .sav compression $compression (none/bytecode/zlib)")
    val nCases = buf.getInt(80)
    val bias = buf.getDouble(84)

    val names = ArrayBuffer.empty[String]
    val widths = ArrayBuffer.empty[Int]
    val missing = ArrayBuffer.empty[MissingSpec]
    var longNamesRaw = "" // type-7 subtype 13: SHORT=LongName pairs
    var vlsRaw = "" // type-7 subtype 14: SHORT=length segmentation table
    var off = HeaderSize
    var done = false
    while (!done) {
      buf.getInt(off) match {
        case 2 => // variable record
          val vtype = buf.getInt(off + 4)
          val hasLabel = buf.getInt(off + 8)
          val nMissing = buf.getInt(off + 12)
          val name = new String(bytes, off + 24, 8, "ISO-8859-1").trim
          off += 32
          if (hasLabel == 1) {
            val len = buf.getInt(off)
            off += 4 + ((len + 3) / 4) * 4 // label text padded to 4 bytes
          }
          val mvals = Array.fill(math.abs(nMissing)) {
            val v = buf.getDouble(off); off += 8; v
          }
          if (vtype >= 0) { // -1 continuations carry no new variable
            names += name
            widths += vtype
            missing += (if (vtype == 0) nMissing match {
              case 0 => NoMissing
              case n if n > 0 => MissingSpec(mvals, Double.NaN, Double.NaN)
              // negative: first two doubles bound a range, any third is an
              // additional discrete code.
              case _ => MissingSpec(mvals.drop(2), mvals(0), mvals(1))
            } else NoMissing) // string missing values don't null out here
          }
        case 3 => // value labels: count, then (8-byte value, len-byte label)
          val n = buf.getInt(off + 4)
          off += 8
          var i = 0
          while (i < n) {
            val len = bytes(off + 8) & 0xff
            off += 8 + ((len + 1 + 7) / 8) * 8 // value + padded label
            i += 1
          }
        case 4 => // value-label variable indexes
          off += 8 + buf.getInt(off + 4) * 4
        case 6 => // documents: line_count 80-char lines
          off += 8 + buf.getInt(off + 4) * 80
        case 7 => // extension subrecord: subtype, size, count, payload
          val len = buf.getInt(off + 8) * buf.getInt(off + 12)
          buf.getInt(off + 4) match {
            case 13 => // long variable names (tab-separated SHORT=Long)
              longNamesRaw = new String(bytes, off + 16, len, "ISO-8859-1")
            case 14 => // very-long-string lengths (NUL/tab SHORT=length)
              vlsRaw = new String(bytes, off + 16, len, "ISO-8859-1")
            case _ => () // other subtypes carry no dictionary semantics here
          }
          off += 16 + len
        case 999 =>
          off += 8 // terminator + int32 filler
          done = true
        case other =>
          throw new IllegalArgumentException(
            s"unsupported .sav record type $other at offset $off")
      }
    }
    // Subtype 13/14 payloads are "SHORT=value" entries; subtype 13 delimits
    // with tab, subtype 14 with NUL+tab — one splitter covers both.
    def entries(raw: String): Seq[(String, String)] =
      raw.split("[\\u0000\\t]+").toSeq.filter(_.contains('=')).map { e =>
        val k = e.indexOf('=')
        (e.take(k).trim, e.drop(k + 1).trim)
      }
    val longNames = entries(longNamesRaw).toMap
    val vls = entries(vlsRaw).map { case (k, v) => (k, v.toInt) }.toMap

    // Collapse very-long-string segment variables: a subtype-14 entry
    // (SHORT=totalLength) marks its variable as the first of
    // ceil(len/252) consecutive dictionary variables, each a 255-wide
    // segment (the last narrower). The merged variable keeps the logical
    // width; segWidths keeps the per-segment dictionary widths that drive
    // the case reader.
    val mNames = ArrayBuffer.empty[String]
    val mWidths = ArrayBuffer.empty[Int]
    val mSegs = ArrayBuffer.empty[Array[Int]]
    val mMissing = ArrayBuffer.empty[MissingSpec]
    var vi = 0
    while (vi < names.length) {
      vls.get(names(vi)) match {
        case Some(total) if widths(vi) > 0 && total > widths(vi) =>
          val nSegs = (total + SegData - 1) / SegData
          require(vi + nSegs <= names.length,
            s".sav very-long-string ${names(vi)} declares $nSegs segments " +
              s"but only ${names.length - vi} variables remain")
          mNames += names(vi)
          mWidths += total
          mSegs += (vi until vi + nSegs).map(widths(_)).toArray
          mMissing += NoMissing
          vi += nSegs
        case _ =>
          mNames += names(vi)
          mWidths += widths(vi)
          mSegs += Array(widths(vi))
          mMissing += missing(vi)
          vi += 1
      }
    }
    val finalNames = mNames.map(n => longNames.getOrElse(n, n))
    val fields = finalNames.zip(mWidths).map { case (n, w) =>
      StructField(n, if (w == 0) DoubleType else StringType, nullable = true)
    }
    SavLayout(StructType(fields.toSeq), mWidths.toArray,
      mSegs.map(identity).toArray, mMissing.toArray,
      compression, bias, nCases, off, order)
  }

  /** Inflate a `.zsav` data segment: a 24-byte zheader (its own offset,
    * trailer offset, trailer length), concatenated zlib blocks, and a
    * trailer whose per-block table drives the inflation. */
  private def inflateZsav(bytes: Array[Byte], ofs: Int,
      order: ByteOrder): Array[Byte] = {
    val buf = ByteBuffer.wrap(bytes).order(order)
    require(buf.getLong(ofs) == ofs.toLong,
      "corrupt .zsav: zheader self-offset mismatch")
    val trailerOfs = buf.getLong(ofs + 8)
    val nBlocks = buf.getInt((trailerOfs + 20).toInt)
    val out = new java.io.ByteArrayOutputStream()
    val inflater = new java.util.zip.Inflater()
    var i = 0
    while (i < nBlocks) {
      val desc = (trailerOfs + 24 + i * 24L).toInt
      val compOfs = buf.getLong(desc + 8).toInt
      val uncompSize = buf.getInt(desc + 16)
      val compSize = buf.getInt(desc + 20)
      inflater.reset()
      inflater.setInput(bytes, compOfs, compSize)
      val block = new Array[Byte](uncompSize)
      var done = 0
      while (done < uncompSize && !inflater.finished())
        done += inflater.inflate(block, done, uncompSize - done)
      require(done == uncompSize,
        s"corrupt .zsav: block $i inflated to $done of $uncompSize bytes")
      out.write(block)
      i += 1
    }
    inflater.end()
    out.toByteArray
  }

  /** Decode every case into Rows. Raw, bytecode-compressed and
    * zlib-compressed (`.zsav`) data all reduce to a stream of 8-byte
    * elements; cases are fixed-length element sequences over that stream. */
  def rows(bytes: Array[Byte]): Iterator[Row] = {
    val l = layout(bytes)
    // .zsav wraps the SAME bytecode stream in zlib blocks — inflate once,
    // then decode as compression 1 from offset 0.
    val (data, dataStart) =
      if (l.compression == 2) (inflateZsav(bytes, l.dataOffset, l.order), 0)
      else (bytes, l.dataOffset)
    val buf = ByteBuffer.wrap(data).order(l.order)
    val streamCompressed = l.compression >= 1
    // Element stream: numeric Double or raw 8-byte chunk, abstracted over
    // compression. `null` signals clean end-of-data.
    var off = dataStart
    var cmdBlock = 0 // position of current command block
    var cmdIdx = 8 // force initial fetch
    var litOff = 0 // next literal block offset (follows the command block)
    def nextElement(wantString: Boolean): Any = {
      if (!streamCompressed) {
        if (off + 8 > data.length) return null
        val r: Any =
          if (wantString) new String(data, off, 8, "ISO-8859-1")
          else buf.getDouble(off)
        off += 8
        return r
      }
      while (true) {
        if (cmdIdx == 8) {
          // The next command block starts right after the last consumed
          // literal; the very first one sits at the data offset itself.
          val pos = if (litOff == 0) off else litOff
          if (pos + 8 > data.length) return null
          cmdBlock = pos
          litOff = pos + 8
          cmdIdx = 0
        }
        val code = data(cmdBlock + cmdIdx) & 0xff
        cmdIdx += 1
        code match {
          case 0 => () // padding — keep scanning
          case 252 => return null // end of data
          case 253 =>
            if (litOff + 8 > data.length) return null
            val r: Any =
              if (wantString) new String(data, litOff, 8, "ISO-8859-1")
              else buf.getDouble(litOff)
            litOff += 8
            return r
          case 254 => return "        " // eight spaces (string chunk)
          case 255 => return SysMis
          case c => return (c - l.bias) // biased small integer
        }
      }
      null // unreachable
    }
    new Iterator[Row] {
      // produced MUST initialize before nextRow: field initializers run in
      // declaration order, and the eager first advance() increments
      // produced — declared after, its `= 0` would then wipe that count
      // and the iterator would attempt one extra case (found by fuzzing).
      private var produced = 0
      private var nextRow: Row = advance()
      private def advance(): Row = {
        if (l.nCases >= 0 && produced >= l.nCases) return null
        val vals = new Array[Any](l.widths.length)
        var i = 0
        while (i < l.widths.length) {
          if (l.widths(i) == 0) {
            nextElement(wantString = false) match {
              case null =>
                return if (i == 0) null // clean boundary: no more cases
                else throw new IllegalArgumentException(
                  "truncated .sav data record")
              case d: Double =>
                vals(i) = if (d == SysMis || l.missing(i).matches(d)) null else d
              case _ => ()
            }
          } else {
            // One storage segment for ordinary strings; several 255-wide
            // segments for very long strings, each contributing at most
            // SegData (252) data bytes — the rest of a non-final segment's
            // width is padding the writer inserts between segments.
            val segs = l.segWidths(i)
            val sb = new java.lang.StringBuilder(l.widths(i) + 8)
            var j = 0
            while (j < segs.length) {
              val segElems = elementsOf(segs(j))
              val seg = new java.lang.StringBuilder(segElems * 8)
              var k = 0
              while (k < segElems) {
                nextElement(wantString = true) match {
                  case null => throw new IllegalArgumentException(
                    "truncated .sav string value")
                  case s: String => seg.append(s)
                  case _ => ()
                }
                k += 1
              }
              val take = if (segs.length == 1) seg.length
                else math.min(seg.length, math.min(segs(j), SegData))
              sb.append(seg, 0, take)
              j += 1
            }
            // SPSS pads string values with trailing spaces to the element
            // boundary; declared width then bounds the logical value.
            var end = math.min(sb.length, l.widths(i))
            while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
            vals(i) = sb.substring(0, end)
          }
          i += 1
        }
        produced += 1
        Row.fromSeq(vals.toIndexedSeq)
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): Row = {
        val r = nextRow; nextRow = advance(); r
      }
    }
  }

  private val format = ingest.BinaryFormat(layout(_).schema, rows(_))

  /** Read one local `.sav` file ([[ingest.BinaryFormat.read]]). */
  def readSav(spark: SparkSession, path: String): DataFrame =
    format.read(spark, path)

  /** Distributed read of many `.sav` files, one task per file, refusing
    * schema drift across the glob ([[ingest.BinaryFormat.readFiles]]). */
  def readSavFiles(spark: SparkSession, pattern: String): DataFrame =
    format.readFiles(spark, pattern)
}
