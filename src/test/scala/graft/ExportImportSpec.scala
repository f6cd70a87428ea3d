package graft

import org.apache.spark.sql.functions._
import graft.operators.{ExportImport, SchemaTools}
import graft.sources.PackageIO

class ExportImportSpec extends SparkSpec {

  test("xsd_export: exported XML part files validate against the generated schema") {
    import javax.xml.XMLConstants
    import javax.xml.transform.stream.StreamSource
    import javax.xml.validation.SchemaFactory
    ExportImport.xmlRoundtrip(spark, sf).collect() // materialize the export
    SchemaTools.xsdExport(spark, sf).collect()     // materialize the schema
    val xsd = new java.io.File(ExportImport.scratch("xsd"), "orders.xsd")
    val validator = SchemaFactory
      .newInstance(XMLConstants.W3C_XML_SCHEMA_NS_URI)
      .newSchema(xsd).newValidator()
    val parts = new java.io.File(ExportImport.scratch("xml-orders"))
      .listFiles.filter(_.getName.endsWith(".xml"))
    assert(parts.nonEmpty, "xml export must produce part files")
    // validate every part — a schema violation throws SAXException
    parts.foreach(f => validator.validate(new StreamSource(f)))
  }

  test("xlsx_keys: preview equals the ordered key head of the source table") {
    val keys = ExportImport.xlsxKeys(spark, sf).collect().map(_.getLong(0))
    val expected = Tables.load(spark, sf, "orders")
      .select("o_orderkey").orderBy("o_orderkey").limit(20)
      .collect().map(_.getLong(0))
    assert(keys.toSeq == expected.toSeq)
  }

  test("nested_docs: document assembly round-trips losslessly; lines stay sorted") {
    val got = ExportImport.nestedDocs(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val flat = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(countDistinct("o_orderkey").as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(graft.operators.Filtering.cents(col("l_quantity"))).as("q"))
      .orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == flat.toSeq)
    // the written documents carry their line arrays sorted by linenumber
    val doc = spark.read.json(ExportImport.scratch("nested-orders"))
      .selectExpr("transform(lines, x -> x.l_linenumber) AS lns")
      .collect()
    assert(doc.forall { r =>
      val lns = r.getSeq[Long](0); lns == lns.sorted
    })
  }

  test("snapshot_diff: planted mutations are detected exactly, nothing else") {
    import graft.operators.MergeImport
    val rows = MergeImport.snapshotDiff(spark, sf).collect()
    val byType = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val keys = Tables.load(spark, sf, "orders")
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(byType.getOrElse("removed", 0) == keys.count(_ % 127 == 0))
    assert(byType.getOrElse("changed", 0) ==
      keys.count(k => k % 113 == 0 && k % 127 != 0))
    assert(byType.getOrElse("added", 0) == keys.count(_ % 131 == 0))
    assert(byType.values.sum == rows.length)
    // changed rows carry both sides, delta is the planted +11 cents
    rows.filter(_.getString(1) == "changed").foreach { r =>
      assert(r.getLong(3) - r.getLong(2) == 11L)
    }
  }

  test("fixed_width_roundtrip: round-trips losslessly; zero bad-length records") {
    val rows = ExportImport.fixedWidthRoundtrip(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_badlen") == 0L))
    val srcN = Tables.load(spark, sf, "orders").count()
    assert(rows.map(_.getAs[Long]("n")).sum == srcN)
    // an over-width field must fail LOUDLY, never truncate: a 13-digit
    // key cannot fit the 12-char column
    import spark.implicits._
    val bad = Seq(1234567890123L).toDF("k")
      .select(when(length(col("k").cast("string")) > 12,
        raise_error(lit("fixed-width overflow")))
        .otherwise(lpad(col("k").cast("string"), 12, "0")).as("v"))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage.contains("overflow") ||
      e.getCause != null && e.getCause.getMessage.contains("overflow"))
  }

  test("pathSlug: collision-free and filesystem-safe where hashCode is not") {
    // "Aa" and "BB" famously share a hashCode — the collision that let
    // two sfDirs clobber one artifact directory (r10 ADVICE)
    assert("Aa".hashCode == "BB".hashCode)
    assert(ExportImport.pathSlug("Aa") != ExportImport.pathSlug("BB"))
    val a = ExportImport.pathSlug("/root/testdata/sf0.01")
    val b = ExportImport.pathSlug("/root/testdata/sf0.1")
    assert(a != b)
    assert(a.matches("[A-Za-z0-9._-]+"), s"slug must be path-safe: $a")
    // deterministic: artifact registries key on the slug across calls
    assert(a == ExportImport.pathSlug("/root/testdata/sf0.01"))
  }

  test("runScratch: a fresh per-run directory, registered for deletion " +
      "when its JVM exits") {
    val a = ExportImport.runScratch("spec-run")
    val b = ExportImport.runScratch("spec-run")
    assert(a != b, "each run gets its own directory")
    Seq(a, b).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p) && fs.cancelDeleteOnExit(p),
        s"$d must be registered for deletion at exit")
      fs.delete(p, true)
    }
  }

  test("corpus_diff: planted doc mutations land in the right status buckets") {
    import graft.operators.MergeImport
    val rows = MergeImport.corpusDiff(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val byStatus = rows.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).toMap
    assert(byStatus.getOrElse("removed", 0L) == ids.count(_ % 13 == 0))
    assert(byStatus.getOrElse("changed", 0L) ==
      ids.count(i => i % 17 == 0 && i % 13 != 0))
    assert(byStatus.getOrElse("added", 0L) == ids.count(_ % 19 == 0))
    assert(byStatus.values.sum ==
      ids.length + ids.count(_ % 19 == 0), byStatus)
    // every (source, status) row carries positive char volume
    assert(rows.forall(_._4 > 0))
  }

  test("xml_roundtrip: re-imported aggregate equals source aggregate") {
    val rt = ExportImport.xmlRoundtrip(spark, sf).collect()
    val src = Tables.load(spark, sf, "orders")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus").collect()
    assert(rt.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      src.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("csv_roundtrip: zero corrupt records on a clean round-trip") {
    val rows = ExportImport.csvRoundtrip(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_corrupt") == 0L))
  }

  test("orc_roundtrip: ORC re-import aggregates equal the parquet source's") {
    val got = ExportImport.orcRoundtrip(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val src = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        graft.operators.Filtering.cents(col("l_quantity")).as("q"),
        graft.operators.Filtering.cents(col("l_extendedprice")).as("p"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)), sum("q"), sum("p"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == src, "ORC round-trip must be lossless")
  }

  test("package_apply: processing order applies parents before children") {
    import spark.implicits._
    import graft.operators.MergeImport
    // base: region 1, nation 1->1, customer 100->1
    val region = Seq((1L, "EU")).toDF("r_regionkey", "r_name")
    val nation = Seq((1L, "FR", 1L)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((100L, "alice", 1L))
      .toDF("c_custkey", "c_name", "c_nationkey")
    // package: NEW region 90, nation 90 -> region 90 (same package),
    // customer 9000 -> nation 90 (same package), customer 9001 -> 999
    // (nowhere: a genuine orphan, rejected regardless of order)
    val pkg = Map(
      "region" -> Seq((90L, "XX")).toDF("r_regionkey", "r_name"),
      "nation" -> Seq((90L, "ZZ", 90L))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq((9000L, "bob", 90L), (9001L, "eve", 999L))
        .toDF("c_custkey", "c_name", "c_nationkey"))
    val base = Map("region" -> region, "nation" -> nation,
      "customer" -> customer)
    val keys = Map("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey")
    val fks = Map(
      "nation" -> (("n_regionkey", "region", "r_regionkey")),
      "customer" -> (("c_nationkey", "nation", "n_nationkey")))

    // parents-first: everything chained through the package lands
    val dir1 = ExportImport.scratch("pkg-ordered")
    PackageIO.writePackage(spark, dir1, pkg,
      processingOrder = Map("region" -> 1, "nation" -> 2, "customer" -> 3))
    val ordered = MergeImport
      .applyPackageOrdered(spark, dir1, base, keys, fks)
      .map(r => r.name -> r).toMap
    assert(ordered.keySet == Set("region", "nation", "customer"))
    // manifest order honored: region, nation, customer
    assert(PackageIO.tablesInOrder(dir1).map(_._1)
      == Seq("region", "nation", "customer"))
    assert(ordered("nation").rejected.count() == 0L)
    assert(ordered("nation").applied.count() == 2L)
    assert(ordered("customer").applied.count() == 2L) // alice + bob
    assert(ordered("customer").rejected.select("c_custkey").as[Long]
      .collect().toSeq == Seq(9001L))

    // child-first: customer would be FK-validated against a nation
    // state that does NOT yet contain 90 — a declared order that
    // contradicts the FK graph is a packaging error and fails LOUDLY
    // before any data moves, naming the offending edge
    val dir2 = ExportImport.scratch("pkg-reversed")
    PackageIO.writePackage(spark, dir2, pkg,
      processingOrder = Map("customer" -> 1, "nation" -> 2, "region" -> 3))
    val err = intercept[IllegalArgumentException] {
      MergeImport.applyPackageOrdered(spark, dir2, base, keys, fks)
    }
    assert(err.getMessage.contains("customer.c_nationkey -> nation"),
      s"error must name the violated edge: ${err.getMessage}")
  }

  test("package_apply: cyclic FK graph has no valid order and raises") {
    import spark.implicits._
    import graft.operators.MergeImport
    // a <-> b cycle plus a self-contained c: NO processing order can
    // put both parents first, so the guard must reject any declared one
    val a = Seq((1L, 10L)).toDF("a_key", "a_bref")
    val b = Seq((10L, 1L)).toDF("b_key", "b_aref")
    val c = Seq((5L, "x")).toDF("c_key", "c_val")
    val pkg = Map("a" -> a, "b" -> b, "c" -> c)
    val keys = Map("a" -> "a_key", "b" -> "b_key", "c" -> "c_key")
    val fks = Map(
      "a" -> (("a_bref", "b", "b_key")),
      "b" -> (("b_aref", "a", "a_key")))
    val dir = ExportImport.scratch("pkg-cycle")
    PackageIO.writePackage(spark, dir, pkg,
      processingOrder = Map("a" -> 1, "b" -> 2, "c" -> 3))
    val err = intercept[IllegalArgumentException] {
      MergeImport.applyPackageOrdered(spark, dir, pkg, keys, fks)
    }
    assert(err.getMessage.contains("a.a_bref -> b"),
      s"cycle must surface as a violated edge: ${err.getMessage}")
  }

  test("package_apply: self-referential FK is exempt from the order guard") {
    import spark.implicits._
    import graft.operators.MergeImport
    // employee.manager_id -> employee: the table applies once and gates
    // against its own already-applied state — no ordering constraint
    val emp = Seq((1L, 1L), (2L, 1L)).toDF("emp_id", "manager_id")
    val inc = Seq((3L, 1L), (4L, 999L)).toDF("emp_id", "manager_id")
    val dir = ExportImport.scratch("pkg-selffk")
    PackageIO.writePackage(spark, dir, Map("employee" -> inc))
    val res = MergeImport.applyPackageOrdered(spark, dir,
      base = Map("employee" -> emp),
      keys = Map("employee" -> "emp_id"),
      fks = Map("employee" -> (("manager_id", "employee", "emp_id"))))
      .map(r => r.name -> r).toMap
    // 3 -> manager 1 exists in base: accepted; 4 -> 999: orphan
    assert(res("employee").rejected.select("emp_id").as[Long]
      .collect().toSeq == Seq(4L))
    assert(res("employee").applied.count() == 3L)
  }

  test("package manifest: real JSON parse survives reorder, rejects junk") {
    import spark.implicits._
    val dir = ExportImport.scratch("pkg-manifest")
    PackageIO.writePackage(spark, dir,
      Map("t1" -> Seq((1L, "a")).toDF("k", "v"),
        "t2" -> Seq((2L, "b")).toDF("k", "v")),
      processingOrder = Map("t2" -> 1, "t1" -> 2))
    assert(PackageIO.tablesInOrder(dir).map(_._1) == Seq("t2", "t1"))
    val path = java.nio.file.Paths.get(s"$dir/_manifest.json")
    // simulate external production faithfully: a foreign producer
    // writes no Hadoop .crc sidecar — drop the one our own
    // ChecksumFileSystem write left, else the checksum layer (rightly)
    // rejects an out-of-band rewrite against a stale sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/._manifest.json.crc"))
    // an externally produced manifest: fields reordered, extras added —
    // must parse identically (the old regex keyed on exact field order)
    java.nio.file.Files.writeString(path,
      """[{"extra":true,"proc_order":2,"table":"t1","rows":1},
         {"proc_order":1,"columns":[],"table":"t2"}]""")
    assert(PackageIO.tablesInOrder(dir).map(_._1) == Seq("t2", "t1"))
    // an empty table list applies nothing — loud, not silent
    java.nio.file.Files.writeString(path, "[]")
    intercept[IllegalArgumentException] { PackageIO.tablesInOrder(dir) }
    // invalid JSON is a manifest error, not an empty result
    java.nio.file.Files.writeString(path, "not json {")
    intercept[IllegalArgumentException] { PackageIO.tablesInOrder(dir) }
    // a non-object entry is corruption — loud, never a silent subset
    java.nio.file.Files.writeString(path,
      """[{"table":"t1","proc_order":1}, "corrupt", {"table":"t2","proc_order":2}]""")
    intercept[IllegalArgumentException] { PackageIO.tablesInOrder(dir) }
  }

  test("integrity_checksum: order-independent, content-sensitive") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Quality.integrityChecksumFrom(
        df, concat_ws("|", col("k"), col("v")), lit("all"))
        .collect().head
    val s1 = sums(base)
    // same rows, different order and partitioning -> identical checksum
    val s2 = sums(base.orderBy(col("k").desc).repartition(3))
    assert(s1.getLong(2) == s2.getLong(2) && s1.getLong(1) == 3L)
    // one changed cell -> different checksum
    val s3 = sums(Seq((1L, "a"), (2L, "X"), (3L, "c")).toDF("k", "v"))
    assert(s1.getLong(2) != s3.getLong(2))
  }

  test("csv import: malformed rows land in the corrupt-record column") {
    import spark.implicits._
    val dir = ExportImport.scratch("csv-bad")
    Seq("l_orderkey,l_quantity", "1,2.5", "oops,not_a_number", "3,4.0")
      .toDF("line").coalesce(1).write.mode("overwrite").text(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_quantity",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    // Spark disallows querying only the corrupt column on a raw scan —
    // cache the parsed result first (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    val df = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt").schema(schema).csv(dir)
      .cache()
    assert(df.filter(col("_corrupt").isNotNull).count() == 1)
    assert(df.filter(col("_corrupt").isNull).count() == 2)
  }

  test("compressed_io: gzip files on disk, transparent re-read") {
    ExportImport.compressedIo(spark, sf).collect()
    val files = new java.io.File(ExportImport.scratch("gz-customer"))
      .listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")), files.mkString(","))
  }

  test("package_roundtrip: manifest lists every table with its row count") {
    ExportImport.packageRoundtrip(spark, sf).collect()
    val manifest = PackageIO.manifest(ExportImport.scratch("package"))
    assert(manifest.contains("\"table\":\"orders\""))
    assert(manifest.contains("\"columns\""))
  }

  test("partitioned_write: filtered re-read prunes to one partition") {
    ExportImport.partitionedWrite(spark, sf).collect()
    val dir = ExportImport.scratch("part-orders")
    val pruned = ExportImport.partitionedRead(spark, dir)
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the status predicate must be a partition filter, not a data filter
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    assert(!plan.contains("PushedFilters: [IsNotNull(o_orderstatus"), plan)
    val expected = Tables.load(spark, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F").count()
    assert(pruned.count() == expected)
  }

  test("json_props: typed extraction handles every row") {
    val out = graft.operators.JsonOps.jsonProps(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).sum ==
      Tables.load(spark, sf, "events").count())
    assert(out.forall(r => r.getAs[Long]("n_with_k") <= r.getAs[Long]("n")))
  }

  test("schema_gen: covers every table and every column") {
    val rows = SchemaTools.schemaGen(spark, sf).collect()
    assert(rows.length == SchemaTools.tableCols.values.sum)
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Tables.names.sorted)
  }
}
