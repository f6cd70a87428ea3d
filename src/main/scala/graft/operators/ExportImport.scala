package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.Filtering.cents
import graft.sources.PackageIO

/** Export/import round-trips: XML, CSV (Excel analog), compressed, and
  * whole-package. Each query exports through a real DataFrameWriter,
  * re-imports through a schema-checked reader, and returns an aggregate
  * that must equal the same aggregate on the source table — proving
  * byte-level fidelity of the exchange without ever collecting data to
  * the driver.
  *
  * Reference semantics: Codeunit 60000 - Config. XML Exchange.al:254/267
  * `ExportPackage(XML)`, :385/419 `ImportPackage(XML)`, :706
  * `FillPackageDataFromXML`; Codeunit 60001:96 `ExportExcel`, :326
  * `ImportExcel`, :369 `ReadWorksheetData`; compression 60000:1103/1111.
  * The reference walks records one RecordRef at a time; here every byte
  * moves through executor-parallel writers/readers, which is the only
  * shape that survives 100 TB.
  */
object ExportImport {

  /** Scratch space under the build dir (the only place we write outside
    * testdata). Rooted at the JVM working directory — overridable with
    * -Dgraft.scratch.dir — so the library works from any checkout. */
  def scratch(name: String): String = {
    val root = sys.props.getOrElse("graft.scratch.dir",
      sys.props("user.dir") + "/target/graft-tmp")
    val d = s"$root/$name"
    graft.sources.FsIO.mkdirs(d, graft.sources.FsIO.sessionConf)
    d
  }

  /** A fresh directory `<scratch>/<name>/run-<uuid>` for one run's
    * artifact (see [[runDir]]). */
  def runScratch(name: String): String = runDir(scratch(name))

  /** A fresh directory `<base>/run-<uuid>`, created now: concurrent runs
    * never share one, and it is deleted when the JVM's FileSystems close
    * at exit, so per-run directories do not pile up across processes. */
  def runDir(base: String): String = {
    val conf = graft.sources.FsIO.sessionConf
    val d = s"$base/run-${java.util.UUID.randomUUID()}"
    graft.sources.FsIO.mkdirs(d, conf)
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(conf).deleteOnExit(p)
    d
  }

  /** Collision-free filesystem slug for an arbitrary string (e.g. an
    * sfDir used to key a per-session artifact directory): sanitized
    * tail for readability + a sha-256 prefix for uniqueness. hashCode
    * is NOT usable here — two distinct sfDirs can collide onto one
    * directory and the second build would clobber the first's parquet
    * under its consumers (and math.abs(Int.MinValue) is negative). */
  def pathSlug(s: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val tail = s.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(32)
    s"$tail-$sha"
  }

  /** BC-style display names a real table hands the XML writer —
    * spaces, dots, leading digits; none is a valid XML element name
    * as-is (GetElementName's problem, Codeunit 60000:925). */
  private[graft] val bcDisplayNames = Seq(
    "No.", "Customer No.", "Status", "Amount Incl. VAT",
    "Document Date", "2. Priority")

  /** §2 #1 — XML export → import round-trip on orders. Timestamps are
    * exported via the engine's typed formatter (ISO strings, the XML-mode
    * branch of FormatFieldValue) and re-parsed on import. Columns travel
    * under BC-style display names, `_xHHHH_`-encoded for the writer
    * ([[graft.sources.XmlNames]]) and decoded after the read — proving
    * the exchange survives names no XML element may carry verbatim. */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.XmlNames
    val dir = scratch("xml-orders")
    Tables.load(spark, sfDir, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority"))
      .toDF(bcDisplayNames.map(XmlNames.encode): _*)
      // attributePrefix: the XML source's default "_" would silently turn
      // any encoded name with an escaped FIRST character (e.g.
      // "_x0032_..." from "2. Priority") into an XML attribute — "@"
      // keeps every field an element, matching the XSD
      .write.mode("overwrite").format("xml")
      .option("rootTag", "orders").option("rowTag", "order")
      .option("attributePrefix", "@").save(dir)

    val types = Seq(LongType, LongType, StringType, DoubleType,
      StringType, StringType)
    val schema = StructType(bcDisplayNames.map(XmlNames.encode).zip(types)
      .map { case (n, t) => StructField(n, t) })
    val decoded = {
      val back = spark.read.format("xml").option("rowTag", "order")
        .option("attributePrefix", "@").schema(schema).load(dir)
      val names = back.columns.map(XmlNames.decode).toSeq
      require(names == bcDisplayNames,
        s"decoded element names must restore the display names: $names")
      back.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
    }
    decoded
      .select(col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"),
        to_timestamp(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("od"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum("price_c").as("sum_price_c"),
        date_format(min("od"), "yyyy-MM-dd").as("first_day"),
        date_format(max("od"), "yyyy-MM-dd").as("last_day"))
      .orderBy("o_orderstatus")
  }

  /** §2 #2 — CSV (Excel-worksheet analog) export → schema-checked import
    * with PERMISSIVE bad-record capture. `n_corrupt` must be 0: a clean
    * round-trip imports every exported row. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("csv-lineitem")
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"))
      .write.mode("overwrite").option("header", "true").csv(dir)

    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", StringType),
      StructField("_corrupt", StringType)))
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema).csv(dir)
      .select(col("l_returnflag"), cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"), col("_corrupt"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("qty_c").as("sum_qty_c"),
        sum("price_c").as("sum_price_c"),
        count(col("_corrupt")).as("n_corrupt"))
      .orderBy("l_returnflag")
  }

  /** §2 #187 — FIXED-WIDTH round-trip: the mainframe/ERP exchange
    * format a migration surface still meets (column offsets, no
    * delimiters — the oldest flat-file contract there is). Export
    * orders as 37-char records (orderkey 12 zero-padded, status 1,
    * price-cents 14 space-padded, date 10), re-import by SUBSTRING
    * offsets, aggregate; equality with the same aggregate on the
    * source proves the layer lossless, and `n_badlen` (records whose
    * length ≠ 37) must come back zero — the structural check a
    * fixed-width reader runs before trusting offsets.
    * Scale: text source/sink, map-only slicing, one hash agg. */
  def fixedWidthRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("fixedwidth-orders")
    // lpad silently TRUNCATES an over-width value — the one failure a
    // fixed-width format cannot tolerate (every later offset shifts
    // meaning). Guard each numeric field loudly before padding.
    def padded(c: Column, w: Int, fill: String, what: String) =
      when(length(c.cast("string")) > w,
        raise_error(concat(lit(s"fixed-width overflow: $what '"),
          c.cast("string"), lit(s"' exceeds $w chars"))))
        .otherwise(lpad(c.cast("string"), w, fill))
    Tables.load(spark, sfDir, "orders")
      .select(concat(
        padded(col("o_orderkey"), 12, "0", "o_orderkey"),
        padded(col("o_orderstatus"), 1, " ", "o_orderstatus"),
        padded(cents(col("o_totalprice")), 14, " ", "o_totalprice cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd")).as("value"))
      .write.mode("overwrite").text(dir)

    spark.read.text(dir)
      .select(
        substring(col("value"), 1, 12).cast("long").as("o_orderkey"),
        substring(col("value"), 13, 1).as("o_orderstatus"),
        trim(substring(col("value"), 14, 14)).cast("long").as("price_c"),
        substring(col("value"), 28, 10).as("o_orderdate"),
        when(length(col("value")) =!= 37, 1L).otherwise(0L).as("badlen"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        sum("badlen").as("n_badlen"))
      .orderBy("o_orderstatus")
  }

  /** §2 #94 — ORC round-trip: the columnar exchange format alternative
    * to parquet (Spark-native ORC source/sink — type-preserving, so no
    * corrupt-record channel is needed). Write lineitem columns to ORC,
    * re-import, aggregate; equality with the same aggregate on the
    * source proves the ORC layer is lossless. Scale: columnar scan with
    * predicate pushdown/column pruning exactly like the parquet path. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("orc-lineitem")
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .select(col("l_returnflag"), cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("qty_c").as("sum_qty_c"),
        sum("price_c").as("sum_price_c"))
      .orderBy("l_returnflag")
  }

  /** §2 #48 — REAL OpenXML .xlsx round-trip (the reference's headline
    * "Export BLOB to Excel / Import BLOB from Excel" feature —
    * Codeunit 60001:96 `ExportExcel`, :326 `ImportExcel`, :369
    * `ReadWorksheetData`): orders exported as executor-written workbook
    * part files (data worksheet + `_package` metadata worksheet per
    * part, via [[graft.sources.XlsxIO]]), re-imported through a
    * binaryFile scan + StAX parse with header-name column alignment,
    * then aggregated — equality with the same aggregate on the source
    * proves the OpenXML layer is lossless. */
  /** Shared xlsx export of orders (the package both xlsx queries read). */
  private[graft] def exportOrdersXlsx(spark: SparkSession,
                                      sfDir: String): String = {
    val dir = scratch("xlsx-orders")
    graft.sources.XlsxTables.clearDir(dir)
    graft.sources.XlsxTables.write(
      Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
            .as("o_orderdate"),
          col("o_orderpriority")),
      dir, table = "orders", packageCode = "GRAFT.ORDERS")
    dir
  }

  /** §2 #60 — key/preview read from the .xlsx package
    * (Codeunit 60001:272 `ReadPackageTableKeysFromExcel`): parse ONLY
    * the key column out of every part workbook (the header-aligned
    * reader projects it; non-key cells never reach Spark), then the
    * ordered key preview an import UI shows. */
  def xlsxKeys(spark: SparkSession, sfDir: String, n: Int = 20): DataFrame = {
    val dir = exportOrdersXlsx(spark, sfDir)
    graft.sources.XlsxTables.read(spark, dir,
      StructType(Seq(StructField("o_orderkey", LongType))))
      .orderBy("o_orderkey").limit(n)
  }

  def xlsxRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = exportOrdersXlsx(spark, sfDir)

    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", StringType),
      StructField("o_orderpriority", StringType)))
    graft.sources.XlsxTables.read(spark, dir, schema)
      .select(col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"),
        to_timestamp(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("od"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum("price_c").as("sum_price_c"),
        date_format(min("od"), "yyyy-MM-dd").as("first_day"),
        date_format(max("od"), "yyyy-MM-dd").as("last_day"))
      .orderBy("o_orderstatus")
  }

  /** Single-workbook form of the xlsx export — ONE Excel-openable file,
    * the reference's actual headline artifact (Codeunit 60001:96
    * `ExportExcel` hands the user one workbook). Returns the same
    * roundtrip aggregate as [[xlsxRoundtrip]], read back from the one
    * file; [[graft.sources.XlsxTables.writeSingle]] enforces the 2^20
    * sheet-row cap loudly. Spec-driven (XlsxSpec); the directory form
    * stays the scale unit and the driver's benched query. */
  def xlsxRoundtripSingle(spark: SparkSession, sfDir: String): DataFrame = {
    val path = scratch("xlsx-orders-single") + "/orders.xlsx"
    graft.sources.XlsxTables.writeSingle(
      Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
            .as("o_orderdate"),
          col("o_orderpriority")),
      path, table = "orders", packageCode = "GRAFT.ORDERS")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", StringType),
      StructField("o_orderpriority", StringType)))
    graft.sources.XlsxTables.read(spark, path, schema)
      .select(col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"),
        to_timestamp(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("od"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum("price_c").as("sum_price_c"),
        date_format(min("od"), "yyyy-MM-dd").as("first_day"),
        date_format(max("od"), "yyyy-MM-dd").as("last_day"))
      .orderBy("o_orderstatus")
  }

  /** §2 #11 — compressed package I/O: gzip CSV out, transparent
    * decompress-on-read back (DecompressPackage analog). */
  def compressedIo(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("gz-customer")
    Tables.load(spark, sfDir, "customer")
      .write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(dir)

    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    spark.read.option("header", "true").schema(schema).csv(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(cents(col("c_acctbal"))).as("sum_bal_c"))
      .orderBy("c_mktsegment")
  }

  /** §2 #44 — JSON-lines export → schema-checked import round-trip
    * (completes the interchange-format matrix: parquet, CSV, XML, gzip,
    * hive-partitioned, package, JSONL). */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("jsonl-customer")
    Tables.load(spark, sfDir, "customer")
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    spark.read.schema(schema).json(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(cents(col("c_acctbal"))).as("sum_bal_c"))
      .orderBy("c_mktsegment")
  }

  /** §2 #67 — relational → DOCUMENT assembly round-trip: lineitems are
    * folded into their parent order as a sorted array of structs (the
    * nested-document export shape — JSON per business entity), written
    * as JSONL, re-read schema-checked, exploded back to relational, and
    * aggregated. Equality with the flat join aggregate proves the
    * nesting/unnesting is lossless.
    *
    * Scale shape: document assembly is ONE groupBy on the parent key
    * (collect_list is bounded by lines-per-order, not table size) + one
    * key-shuffle join; unnesting is a map-only explode. */
  def nestedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("nested-orders")
    val lines = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        struct(col("l_linenumber"),
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice")).as("price_c")).as("line"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list("line")).as("lines"))
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .join(lines, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("lines"))
      .write.mode("overwrite").json(dir)

    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("lines", ArrayType(StructType(Seq(
        StructField("l_linenumber", IntegerType),
        StructField("qty_c", LongType),
        StructField("price_c", LongType)))))))
    spark.read.schema(schema).json(dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        explode(col("lines")).as("ln"))
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum("ln.qty_c").as("sum_qty_c"),
        sum("ln.price_c").as("sum_price_c"))
      .orderBy("o_orderstatus")
  }

  /** §2 #43 — typed import validation: incoming values arrive as text
    * (the worksheet/XML reality), every field is `try_cast` to its target
    * type, and the operator reports per-column violation counts plus the
    * clean-row total — the declarative analog of per-field
    * `ConfigValidateMgt.EvaluateValue` error records
    * (Codeunit 60000:419 import path). Corruption is simulated
    * deterministically (keys divisible by 97 get a non-numeric price,
    * by 101 a malformed date) so the oracle can reproduce it. */
  /** Text-staged orders with deterministic corruption (keys divisible by
    * 97 get a non-numeric price, by 101 a malformed date) — the shared
    * input of importValidation / importErrors, reproduced verbatim by
    * their oracles. */
  private def stagedOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, lit("not-a-number"))
          .otherwise(col("o_totalprice").cast("string")).as("price_txt"),
        when(col("o_orderkey") % 101 === 0, lit("31-13-2020"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("date_txt"))

  def importValidation(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stagedOrders(spark, sfDir)
    // validity checks chosen for identical cross-engine semantics:
    // numeric shape via regex (format-model parsers differ), date via
    // try-parse (never throws, ANSI or not)
    staged.select(
      col("o_orderkey"),
      (!col("price_txt").rlike("^[0-9]+(\\.[0-9]+)?$")).as("bad_price"),
      try_to_timestamp(col("date_txt"), lit("yyyy-MM-dd")).isNull
        .as("bad_date"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("bad_price"), 1)).as("n_bad_price"),
        count(when(col("bad_date"), 1)).as("n_bad_date"),
        count(when(!col("bad_price") && !col("bad_date"), 1)).as("n_clean"))
  }

  /** §2 #50 — per-row import ERROR RECORDS: every failed field
    * evaluation becomes an addressable row (key, field, raw value,
    * reason) — the ConfigPackageError analog of the reference's apply
    * path (Codeunit 60000:419), where a migration operator drills into
    * exactly which cell of which row refused to parse.
    * importValidation reports the counts; this emits the evidence. */
  def importErrors(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stagedOrders(spark, sfDir)
    val priceErr = staged
      .filter(!col("price_txt").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .select(col("o_orderkey"), lit("o_totalprice").as("field"),
        col("price_txt").as("raw_value"),
        lit("not a valid decimal").as("reason"))
    val dateErr = staged
      .filter(try_to_timestamp(col("date_txt"), lit("yyyy-MM-dd")).isNull)
      .select(col("o_orderkey"), lit("o_orderdate").as("field"),
        col("date_txt").as("raw_value"),
        lit("not a valid date").as("reason"))
    priceErr.unionAll(dateErr).orderBy("o_orderkey", "field")
  }

  /** §2 #36 — partitioned export + partition-pruned import: write orders
    * hive-partitioned by status, read back filtered to one partition.
    * At 100 TB this is THE layout decision: the filtered re-read must
    * list and scan only the matching partition directory (the spec
    * asserts `PartitionFilters` in the scan). */
  def partitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("part-orders")
    Tables.load(spark, sfDir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    partitionedRead(spark, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .orderBy("o_orderstatus")
  }

  /** The pruned re-read (separate so the spec can inspect its plan). */
  def partitionedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).filter(col("o_orderstatus") === "F")

  /** §2 #14 — whole-package round-trip: manifest + per-table parquet out,
    * re-read each table and report (table, rows, cols) from the re-read
    * data — equality with the source proves the package is lossless. */
  def packageRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("package")
    val tables = Seq("orders", "customer", "nation")
    PackageIO.writePackage(spark, dir,
      tables.map(t => t -> Tables.load(spark, sfDir, t)).toMap)
    val summaries = tables.sorted.map { t =>
      val df = PackageIO.readTable(spark, dir, t)
      df.select(lit(t).as("tab"), lit(df.columns.length).as("n_cols"))
        .groupBy("tab", "n_cols").agg(count(lit(1)).as("n_rows"))
    }
    summaries.reduce(_.unionAll(_)).select("tab", "n_rows", "n_cols")
      .orderBy("tab")
  }
}
