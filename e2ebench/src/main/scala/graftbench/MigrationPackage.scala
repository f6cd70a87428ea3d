package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Graft
import graft.operators.MergeImport
import graft.sources.{PackageIO, XmlNames}

/** The migration leg of the batch pipeline — the reference system's own
  * surface: a migration
  * package of a seed-chosen order-date window (its orders and lines,
  * plus every dimension table) is exported as a parquet package, an
  * Excel workbook set and XML, imported back, applied into the base
  * tables in processing order, and validated. A fixed share of the
  * window's orders is re-priced (so the upsert changes rows) and a
  * fixed number of FK orphans is injected (so the FK gate rejects
  * rows). */
final class MigrationPackage {
  val name = "migration"
  val spans: Seq[String] = Seq(
    "PackageIO.writePackage", "XlsxTables.write", "sources.xmlWrite",
    "XlsxTables.read", "sources.xmlRead", "MergeImport.applyPackageOrdered",
    "Quality.totalsReconcile", "Quality.integrityChecksum")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")
  private val keys = Map("region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey", "part" -> "p_partkey",
    "orders" -> "o_orderkey", "lineitem" -> "l_linekey")
  private val fks = Map(
    "nation" -> ("n_regionkey", "region", "r_regionkey"),
    "customer" -> ("c_nationkey", "nation", "n_nationkey"),
    "supplier" -> ("s_nationkey", "nation", "n_nationkey"),
    "orders" -> ("o_custkey", "customer", "c_custkey"),
    "lineitem" -> ("l_orderkey", "orders", "o_orderkey"))
  private val order = tables.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
  /** BC-style display names the XML exchange carries for orders; none
    * is a legal XML element name until [[XmlNames]] encodes it. */
  private val orderNames = Seq("o_orderkey" -> "No.", "o_custkey" -> "Customer No.",
    "o_orderstatus" -> "Status", "o_totalprice" -> "Amount Incl. VAT",
    "o_orderdate" -> "Document Date", "o_orderpriority" -> "2. Priority")
  /** Base-table scale: a quarter of sf0.1. The round trip's cost is
    * set by its job count far more than by rows, and a smaller base
    * keeps input generation short. */
  private val sf = 0.025
  private val nOrphanOrders = 100
  private val nOrphanLines = 200

  private var pkgRows = 0L
  private var repricedKeys: Set[Long] = Set.empty
  private var orphanOrderKeys: Set[Long] = Set.empty
  private var orphanLineKeys: Set[Long] = Set.empty

  /** A package table: this seed's orders and lines, or a whole
    * dimension table as it stands in the base. */
  private def in(ctx: Ctx, t: String) =
    if (Set("orders", "lineitem")(t)) ctx.spark.read.parquet(ctx.dir(s"input/incoming/$t"))
    else base(ctx, t)
  private def base(ctx: Ctx, t: String) = ctx.spark.read.parquet(ctx.dir(s"input/sf/$t.parquet"))

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val star = Inputs.starSchema(spark, seed, sf)
    (tables.filterNot(Set("orders")) :+ "orders").foreach { t =>
      // orders' totals come from the lines already on disk
      val df = if (t == "orders") Inputs.withTotals(star(t), base(ctx, "lineitem")) else star(t)
      df.write.mode("overwrite").parquet(ctx.dir(s"input/sf/$t.parquet"))
    }
    val r = new scala.util.Random(seed * 13 + 3)
    val from = 200 + r.nextInt(2000)
    val day = unix_seconds(to_timestamp(lit("1992-01-01 00:00:00"))) / 86400
    val od = unix_seconds(col("o_orderdate")) / 86400 - day
    val window = base(ctx, "orders").filter(od >= from && od < from + 190)
    val repriced = pmod(xxhash64(lit(seed), lit(99), col("l_orderkey")), lit(20)) === 0
    val lines = base(ctx, "lineitem")
      .join(window.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      .withColumn("l_extendedprice",
        when(repriced, round(col("l_extendedprice") * 1.1, 2))
          .otherwise(col("l_extendedprice")))
    val orphanLines = lines.orderBy("l_linekey").limit(nOrphanLines).withColumn("i",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("l_linekey")))
      .withColumn("l_orderkey", lit(3000000L) + col("i"))
      .withColumn("l_linekey", col("l_orderkey") * 8 + 1).drop("i")
    val orders = Inputs.withTotals(window, lines)
    val orphanOrders = orders.orderBy("o_orderkey").limit(nOrphanOrders).withColumn("i",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")))
      .withColumn("o_orderkey", lit(2000000L) + col("i"))
      .withColumn("o_custkey", lit(1000000L) + col("i")).drop("i")
    lines.unionByName(orphanLines).write.mode("overwrite")
      .parquet(ctx.dir("input/incoming/lineitem"))
    orders.unionByName(orphanOrders).write.mode("overwrite")
      .parquet(ctx.dir("input/incoming/orders"))
    def longs(df: DataFrame, c: String) = df.select(c).collect().map(_.getLong(0)).toSet
    repricedKeys = longs(in(ctx, "orders").filter(
      pmod(xxhash64(lit(seed), lit(99), col("o_orderkey")), lit(20)) === 0 &&
        col("o_orderkey") < 2000000L), "o_orderkey")
    orphanOrderKeys = (1 to nOrphanOrders).map(2000000L + _).toSet
    orphanLineKeys = (1 to nOrphanLines).map(i => (3000000L + i) * 8 + 1).toSet
    pkgRows = tables.map(t => in(ctx, t).select(keys(t)).collect().length.toLong).sum
  }

  private val xmlOpts = Map("rootTag" -> "orders", "rowTag" -> "order",
    "attributePrefix" -> "@")
  private def xmlSchema = StructType(orderNames.map(_._2).map(XmlNames.encode)
    .zip(Seq(LongType, LongType, StringType, DoubleType, StringType, StringType))
    .map { case (n, t) => StructField(n, t) })
  /** Workbook cells carry strings, numbers and booleans: timestamps
    * travel as ISO text, like the XML exchange's dates. */
  private val isoTs = "yyyy-MM-dd'T'HH:mm:ss"
  private def lineSchema(ctx: Ctx) = StructType(in(ctx, "lineitem").schema.map(f =>
    if (f.name == "l_shipdate") f.copy(dataType = StringType) else f))

  private def ordersText(df: DataFrame): Column = concat_ws("|", df("o_orderkey"),
    df("o_custkey"), df("o_orderstatus"), round(df("o_totalprice") * 100).cast("long"),
    date_format(df("o_orderdate"), "yyyy-MM-dd HH:mm:ss"), df("o_orderpriority"))
  private def lineText(df: DataFrame): Column =
    concat_ws("|", df.columns.filter(_ != "side").sorted.toSeq
      .map(c => df(c).cast("string")): _*)

  /** Exported vs imported (side, n_rows, checksum) per exchange table. */
  private def sidesChecksum(tr: Tracer, exported: DataFrame, imported: DataFrame,
                            text: DataFrame => Column): Map[String, (Long, Long)] = {
    val both = exported.withColumn("side", lit("exported"))
      .unionByName(imported.withColumn("side", lit("imported")))
    tr.construct(Graft.integrityChecksum(both, text(both), col("side")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  final case class RoundResult(exportMs: Double, importMs: Double,
                                       sums: Map[String, Map[String, (Long, Long)]],
                                       reconcile: Map[String, Any],
                                       rejected: Map[String, Set[Long]])

  def roundTrip(ctx: Ctx, out: String): RoundResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val e0 = System.nanoTime()
    tr.span("PackageIO.writePackage") {
      PackageIO.writePackage(spark, s"$out/pkg",
        tables.map(t => t -> in(ctx, t)).toMap, order)
    }
    tr.span("XlsxTables.write") {
      Graft.writeXlsx(in(ctx, "lineitem")
        .withColumn("l_shipdate", date_format(col("l_shipdate"), isoTs)),
        s"$out/xlsx", "lineitem", s"PKG${ctx.seed}")
    }
    tr.span("sources.xmlWrite") {
      in(ctx, "orders").select(orderNames.map { case (c, n) =>
        (if (c == "o_orderdate") date_format(col(c), isoTs) else col(c))
          .as(XmlNames.encode(n))
      }: _*).write.format("xml").options(xmlOpts).save(s"$out/xml")
    }
    val i0 = System.nanoTime()
    tr.span("XlsxTables.read") {
      tr.construct(Graft.readXlsx(spark, s"$out/xlsx", lineSchema(ctx)))
        .withColumn("l_shipdate", to_timestamp(col("l_shipdate"), isoTs))
        .write.parquet(s"$out/staged/lineitem")
    }
    tr.span("sources.xmlRead") {
      val back = spark.read.format("xml").options(xmlOpts).schema(xmlSchema)
        .load(s"$out/xml")
      val decoded = back.columns.map(XmlNames.decode).toSeq
      require(decoded == orderNames.map(_._2),
        s"decoded XML element names differ from the display names: $decoded")
      back.toDF(orderNames.map(_._1): _*)
        .withColumn("o_orderdate", to_timestamp(col("o_orderdate"), isoTs))
        .write.parquet(s"$out/staged/orders")
    }
    val rejected = tr.span("MergeImport.applyPackageOrdered") {
      val applied = tr.construct(MergeImport.applyPackageOrdered(spark, s"$out/pkg",
        tables.map(t => t -> base(ctx, t)).toMap, keys, fks))
      applied.foreach(a => a.applied.write.parquet(s"$out/applied/${a.name}"))
      // rejected rows are few: one collect of (table, key) for every table
      applied.map(a => a.rejected.select(lit(a.name).as("tab"),
          col(keys(a.name)).cast("long").as("key")))
        .reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    val v0 = System.nanoTime()
    val rec = tr.span("Quality.totalsReconcile") {
      val row = tr.construct(Graft.totalsReconcile(
        spark.read.parquet(s"$out/applied/orders"),
        spark.read.parquet(s"$out/applied/lineitem"))).collect().head
      row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap
    }
    val sums = tr.span("Quality.integrityChecksum") {
      Map("orders" -> sidesChecksum(tr, in(ctx, "orders"),
          spark.read.parquet(s"$out/staged/orders"), ordersText),
        "lineitem" -> sidesChecksum(tr, in(ctx, "lineitem"),
          spark.read.parquet(s"$out/staged/lineitem"), lineText))
    }
    RoundResult((i0 - e0) / 1e6, (v0 - i0) / 1e6, sums, rec,
      rejected.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).toSet })
  }

  /** Checks over every completed round trip (in order) and the files
    * of the last operation's round trip, if it completed. */
  def report(ctx: Ctx, done: Seq[RoundResult], last: Option[String]): LegReport = {
    val spark = ctx.spark
    val checks = Seq.newBuilder[Check]
    var recall = 0.0
    done.headOption.foreach { first =>
      checks += Check("rounds_agree", done.forall(d =>
        d.sums == first.sums && d.reconcile == first.reconcile &&
          d.rejected == first.rejected), s"${done.size} rounds")
      val exch = first.sums.map { case (t, s) =>
        t -> (s.get("exported") == s.get("imported"), s("exported")._1) }
      exch.foreach { case (t, (ok, n)) =>
        checks += Check(s"import_equals_export_$t", ok, s"$n rows, integrity checksums")
      }
      recall = exch.values.map { case (ok, n) => if (ok) n else 0L }.sum.toDouble /
        exch.values.map(_._2).sum
      val rc = first.reconcile
      def l(k: String) = rc(k).asInstanceOf[Long]
      checks += Check("reconcile_diffs_zero",
        l("n_orders") == l("n_exact") && l("n_orphan_line_keys") == 0 && l("n_no_lines") == 0,
        rc.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      val rej = first.rejected.withDefaultValue(Set.empty[Long])
      val rejOther = (rej -- Seq("orders", "lineitem")).values.map(_.size).sum
      checks += Check("rejected_equal_injected_orphans",
        rej("orders") == orphanOrderKeys && rej("lineitem") == orphanLineKeys && rejOther == 0,
        s"rejected orders=${rej("orders").size}/$nOrphanOrders " +
          s"lines=${rej("lineitem").size}/$nOrphanLines other=$rejOther")
      Expected.check(name, ctx.seed, Map(
        "reconcile" -> rc.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","),
        "exchange" -> first.sums.toSeq.sortBy(_._1).map { case (t, s) =>
          s"$t:${s("exported")._1}:${s("exported")._2}" }.mkString(","))).foreach(checks += _)
    }
    last.foreach { dir =>
      val changed = spark.read.parquet(s"$dir/applied/orders").as("a")
        .join(base(ctx, "orders").as("b"), "o_orderkey")
        .filter(col("a.o_totalprice") =!= col("b.o_totalprice"))
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      checks += Check("upsert_changed_repriced", changed == repricedKeys,
        s"changed ${changed.size} orders, re-priced ${repricedKeys.size}")
    }
    val bytes = last.map(d => Fs.bytes(s"$d/pkg/data") + Fs.bytes(s"$d/xlsx") +
      Fs.bytes(s"$d/xml")).getOrElse(0L)
    LegReport(checks.result(), recall, bytes, pkgRows,
      Seq(("package_export_s", Stats.median(done.map(_.exportMs)) / 1e3, "s"),
        ("package_import_s", Stats.median(done.map(_.importMs)) / 1e3, "s"),
        ("package_bytes_per_row", if (last.isEmpty) 0.0 else bytes.toDouble / pkgRows, "B"),
        ("package_rows", pkgRows.toDouble, "count")))
  }
}
