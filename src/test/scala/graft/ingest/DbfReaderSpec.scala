package graft.ingest

import org.apache.spark.sql.types._
import graft.SparkSpec

/** S10: dBase III `.dbf` ingest — type mapping, latin-1 strings, blank
  * fields → nulls, deleted-record skipping, and the distributed read. */
class DbfReaderSpec extends SparkSpec {

  private def fixture: String =
    getClass.getResource("/fixtures/sample.dbf").getPath

  test("readDbf maps xBase types to Spark types") {
    val df = DbfReader.readDbf(spark, fixture)
    assert(df.schema == StructType(Seq(
      StructField("NOMBRE", StringType),
      StructField("ANIO", LongType),
      StructField("MONTO", DoubleType),
      StructField("ACTIVO", BooleanType),
      StructField("FECHA", DateType))))
  }

  test("readDbf decodes values, skips deleted rows, blanks become nulls") {
    val df = DbfReader.readDbf(spark, fixture)
    val rows = df.collect().sortBy(r => Option(r.getString(0)).getOrElse(""))
    assert(rows.length == 3) // 4 records, 1 flagged deleted
    val cuzco = rows.find(_.getString(0).startsWith("Cuzco")).get
    assert(cuzco.getString(0) == "Cuzcoé") // latin-1, right-trimmed
    assert(cuzco.getLong(1) == 2022 && cuzco.isNullAt(2))
    assert(cuzco.getBoolean(3) == false)
    assert(cuzco.getDate(4).toString == "2022-01-01")
    val lima = rows.find(_.getString(0) == "Lima").get
    assert(lima.getDouble(2) == 1234.5 && lima.getBoolean(3))
    assert(lima.getDate(4).toString == "2021-03-15")
    val piura = rows.find(_.getString(0) == "Piura").get
    assert(piura.isNullAt(1) && piura.isNullAt(3) && piura.isNullAt(4))
    assert(piura.getDouble(2) == 99.25)
    assert(!rows.exists(_.getString(0) == "DELETEDROW"))
  }

  test("readDbfFiles distributes the parse and matches the local read") {
    val local = DbfReader.readDbf(spark, fixture).collect().map(_.toSeq).toSet
    val dist = DbfReader.readDbfFiles(spark, fixture)
      .collect().map(_.toSeq).toSet
    assert(dist == local && dist.size == 3)
  }

  test("readDbfFiles refuses a file whose layout drifts from the glob's " +
    "first file, naming it") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("dbf-drift")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(fixture))
    Files.write(dir.resolve("a.dbf"), bytes)
    // field 1 (ANIO) descriptor's type byte: 'N' (BIGINT) -> 'F' (DOUBLE)
    val drifted = bytes.clone()
    assert(drifted(32 + 32 + 11) == 'N'.toByte)
    drifted(32 + 32 + 11) = 'F'.toByte
    Files.write(dir.resolve("b.dbf"), drifted)
    val e = intercept[Exception](
      DbfReader.readDbfFiles(spark, s"$dir/*.dbf").collect())
    assert(e.getMessage.contains(s"${dir.resolve("b.dbf")} schema") &&
      e.getMessage.contains("differs from the glob's first-file schema"),
      e.getMessage)
  }

  test("rejects non-dBase-III versions loudly") {
    val bogus = new Array[Byte](64)
    bogus(0) = 0x04
    val e = intercept[IllegalArgumentException](DbfReader.layout(bogus))
    assert(e.getMessage.contains("dBase III"))
  }
}
