package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Schema generation + package/table metadata.
  *
  * Reference semantics: Codeunit 60000 - Config. XML Exchange.al:1030
  * `GetXSDType` (AL field type → XSD type), Codeunit 60001:495
  * `CreateSchemaFile` (per-table schema manifest) and :600
  * `AddPackageAndTableInformation` (package header: codes + counts).
  * Both are metadata-only: the schema query never scans data, the
  * metadata query scans only what a count aggregate needs.
  */
object SchemaTools {

  /** Spark type → XSD-style type, extending the reference's mapping
    * (Integer→integer, Date→date, Boolean→boolean, DateTime→dateTime,
    * else string) with the numeric/binary types Spark distinguishes. */
  def xsdType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "xsd:integer"
    case FloatType | DoubleType => "xsd:double"
    case _: DecimalType => "xsd:decimal"
    case BooleanType => "xsd:boolean"
    case DateType => "xsd:date"
    case TimestampType | TimestampNTZType => "xsd:dateTime"
    case BinaryType => "xsd:base64Binary"
    case _ => "xsd:string"
  }

  /** §2 #3 — schema manifest for every package table. */
  def schemaGen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.names
      .flatMap { t =>
        Tables.load(spark, sfDir, t).schema.fields
          .map(f => (t, f.name, xsdType(f.dataType)))
      }
      .toDF("tab", "col_name", "xsd_type")
      .orderBy("tab", "col_name")
  }

  /** §2 #12 — package/table metadata: per-table row + column counts. */
  def packageMetadata(spark: SparkSession, sfDir: String): DataFrame =
    Tables.names.sorted.map { t =>
      val df = Tables.load(spark, sfDir, t)
      df.select(lit(t).as("tab"), lit(df.columns.length).as("n_cols"))
        .groupBy("tab", "n_cols").agg(count(lit(1)).as("n_rows"))
    }.reduce(_.unionAll(_)).select("tab", "n_rows", "n_cols").orderBy("tab")

  /** Tables exported by the schema-only template (fixed, so the oracle
    * literal below can be hand-maintained). */
  val templateTables: Seq[String] = Seq("customer", "orders")

  /** §2 #49 — template-mode export (Codeunit 60001:88
    * `ExportExcelTemplateFromTables` / the `SkipData` branch of :96):
    * a schema-only typed workbook — one worksheet per table, header row,
    * zero data rows — that a user fills in and feeds back through the
    * import path. Each header cell carries a REAL OpenXML cell comment
    * with the field's type annotation (the reference's 60001:569
    * `SetCellComment` + :580 `CreateCommentVmlShapeXml` template
    * metadata). Metadata-only (single tiny driver-side file, like
    * schema_gen); manifest AND comments are read back FROM THE FILE,
    * proving the emitted template is a parseable, annotated workbook. */
  def templateExport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.FsIO
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = ExportImport.scratch("xlsx-template")
    val sheets = templateTables.map { t =>
      val fields = Tables.load(spark, sfDir, t).schema.fields.toSeq
      graft.sources.XlsxIO.WorkSheet(t, fields.map(_.name),
        Iterator.empty,
        headerComments = fields.map(f => s"Type: ${xsdType(f.dataType)}"))
    }
    val path = s"$dir/template.xlsx"
    val out = FsIO.create(path, conf)
    try graft.sources.XlsxIO.writeWorkbook(out, sheets) finally out.close()

    val bytes = FsIO.readBytes(path, conf)
    val comments = graft.sources.XlsxIO.readComments(bytes)
    graft.sources.XlsxIO.readWorkbook(bytes)
      .flatMap { case (sheet, rows) =>
        rows.headOption.toSeq.flatMap(_.toSeq.zipWithIndex.map {
          case (cname, i) =>
            val ref = graft.sources.XlsxIO.colLetters(i) + "1"
            (sheet, i + 1, cname,
              comments.getOrElse(sheet, Map.empty).getOrElse(ref, null))
        })
      }
      .toDF("tab", "col_pos", "col_name", "col_comment")
      .orderBy("tab", "col_pos")
  }

  /** The element/type layout of the XML orders export: BC display names
    * `_xHHHH_`-encoded exactly as the writer emits them, with XSD types
    * that VALIDATE the exported lexical forms (dates travel as ISO
    * strings → xsd:dateTime). */
  private[graft] val xmlOrdersElements: Seq[(String, String)] = {
    import graft.sources.XmlNames.encode
    Seq(
      encode("No.") -> "xsd:integer",
      encode("Customer No.") -> "xsd:integer",
      encode("Status") -> "xsd:string",
      encode("Amount Incl. VAT") -> "xsd:double",
      encode("Document Date") -> "xsd:dateTime",
      encode("2. Priority") -> "xsd:string")
  }

  /** §2 #61 — REAL XSD schema file (Codeunit 60001:495 `CreateSchemaFile`,
    * 60000:1030 `GetXSDType`): generates the W3C schema describing the
    * XML package export (root `orders`, row `order`, typed field elements)
    * and returns the manifest parsed back FROM THE FILE. The spec
    * validates actual exported XML part files against this schema with
    * `javax.xml.validation` — the artifact is a working schema, not
    * documentation. Metadata-only (no data scan). */
  def xsdExport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.FsIO
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = ExportImport.scratch("xsd")
    val fields = xmlOrdersElements.map { case (n, t) =>
      s"""          <xsd:element name="$n" type="$t"/>"""
    }.mkString("\n")
    val xsd =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<xsd:schema xmlns:xsd="http://www.w3.org/2001/XMLSchema">
         |  <xsd:element name="orders">
         |    <xsd:complexType><xsd:sequence>
         |      <xsd:element name="order" maxOccurs="unbounded">
         |        <xsd:complexType><xsd:sequence>
         |$fields
         |        </xsd:sequence></xsd:complexType>
         |      </xsd:element>
         |    </xsd:sequence></xsd:complexType>
         |  </xsd:element>
         |</xsd:schema>
         |""".stripMargin
    val path = s"$dir/orders.xsd"
    FsIO.writeString(path, xsd, conf)

    // manifest re-parsed from the written file (proves it is valid XML
    // with the declared leaf elements, in order)
    val reader = javax.xml.stream.XMLInputFactory.newInstance()
      .createXMLStreamReader(FsIO.open(path, conf))
    val leaves = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (reader.hasNext) {
      if (reader.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
          && reader.getLocalName == "element"
          && reader.getAttributeValue(null, "type") != null)
        leaves += ((reader.getAttributeValue(null, "name"),
          reader.getAttributeValue(null, "type")))
    }
    reader.close()
    leaves.toSeq.zipWithIndex
      .map { case ((n, t), i) => (i + 1, n, t) }
      .toDF("pos", "element", "xsd_type")
      .orderBy("pos")
  }

  val tableCols: Map[String, Int] = Map(
    "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
    "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
    "documents" -> 5, "embeddings" -> 3)
}
