package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Filtering.cents

/** Lakehouse maintenance — the operational half of running the engine at
  * 100 TB: small-file compaction (the #1 operational killer of large
  * parquet tables) and schema-evolution reads (packages exported before
  * and after a column was added must land in one table).
  */
object Maintenance {

  /** §2 #62 — small-file compaction: a fragmented table directory
    * (simulated: 32 splinter files) is rewritten into a small number of
    * size-targeted files. The query returns the aggregate of the
    * COMPACTED copy — equality with the source proves compaction is
    * lossless; the spec additionally asserts the file count actually
    * dropped. At scale the repartition target comes from
    * `sum(file sizes)/targetFileSize` and AQE coalescing; the rewrite
    * shape (one shuffle, executor-parallel writers) is identical. */
  def compactFiles(spark: SparkSession, sfDir: String,
                   targetFiles: Int = 4): DataFrame = {
    val fragDir = ExportImport.scratch("frag-orders")
    val compDir = ExportImport.scratch("compact-orders")
    Tables.load(spark, sfDir, "orders")
      .repartition(32) // simulate a fragmented ingest
      .write.mode("overwrite").parquet(fragDir)
    spark.read.parquet(fragDir)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(compDir)
    spark.read.parquet(compDir)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("sum_price_c"),
        countDistinct(col("o_orderkey")).as("n_keys"))
  }

  /** §2 #63 — schema-evolution read: two package snapshots written
    * before/after a column was added (`o_channel` exists only in v2),
    * read as ONE table via parquet schema merging; v1 rows surface the
    * new column as null. The deterministic split (even keys = v1) lets
    * the oracle reproduce the exact result from the source table. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val v1Dir = ExportImport.scratch("evo-v1")
    val v2Dir = ExportImport.scratch("evo-v2")
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    src.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(v1Dir)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("o_channel",
        when(col("o_orderkey") % 3 === 0, "web").otherwise("store"))
      .write.mode("overwrite").parquet(v2Dir)

    spark.read.option("mergeSchema", "true").parquet(v1Dir, v2Dir)
      .groupBy(coalesce(col("o_channel"), lit("unknown")).as("channel"))
      .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"))
      .orderBy("channel")
  }

  /** §2 #82 — SCHEMA DIFF between two package snapshots: the
    * pre-import validation a migration run does before applying a new
    * package version — added / removed / retyped columns, as data (so
    * the check composes with import_errors instead of being a log
    * line). Reuses the schemaEvolution v1/v2 snapshot dirs; pure
    * metadata — the parquet FOOTERS are read, never the data. */
  def schemaDiff(spark: SparkSession, sfDir: String): DataFrame = {
    // the snapshot writes inside schemaEvolution are EAGER (write is an
    // action); the returned frame is lazy and can be dropped unexecuted
    schemaEvolution(spark, sfDir)
    val v1 = spark.read.parquet(ExportImport.scratch("evo-v1")).schema
    val v2 = spark.read.parquet(ExportImport.scratch("evo-v2")).schema
    diffSchemas(spark, v1, v2)
  }

  /** Generic core: column-level diff of two StructTypes as a DataFrame
    * (col_name, change ∈ added|removed|retyped, v1_type, v2_type). */
  def diffSchemas(spark: SparkSession,
                  v1: org.apache.spark.sql.types.StructType,
                  v2: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    val m1 = v1.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val m2 = v2.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (m2.keySet -- m1.keySet).toSeq.sorted.map(c =>
        (c, "added", null: String, m2(c))) ++
      (m1.keySet -- m2.keySet).toSeq.sorted.map(c =>
        (c, "removed", m1(c), null: String)) ++
      (m1.keySet & m2.keySet).toSeq.sorted
        .filter(c => m1(c) != m2(c))
        .map(c => (c, "retyped", m1(c), m2(c)))
    rows.toDF("col_name", "change", "v1_type", "v2_type")
      .orderBy("col_name")
  }

  /** Bit-interleave term for a Morton (Z-order) value over two
    * `bits`-bit coordinates, rendered for either engine's integer
    * division operator. Pure 64-bit arithmetic — identical results in
    * Spark (`div`) and DuckDB (`//`). */
  private[graft] def mortonTerms(bits: Int, divOp: String): String =
    (0 until bits).map { i =>
      s"((x $divOp ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((y $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** §2 #137 — Z-ORDER LAYOUT audit: the (customer, order-day) table
    * laid out in `nFiles` Morton-order tiles vs a naive linear-on-
    * customer layout, with the per-file bounding box each layout
    * yields. The avg_box / avg_y_span gap IS the file-skipping
    * argument for clustering 100 TB on interleaved keys: a date-range
    * query touches every linear file (each spans the full date range)
    * but only the z-tiles whose y-interval intersects it. The same
    * min/max-per-file stats drive real parquet row-group pruning.
    *
    * Scale shape: one 1-row min/max aggregate broadcast back (the
    * normalization bounds), then the z-value is MAP-ONLY integer
    * arithmetic; each layout summary is two hash aggregates (rows →
    * nFiles file stats → 1 row). The actual re-layout write at scale
    * is `repartitionByRange(z)` — same z expression, one range
    * shuffle; this query reports the evidence for paying it. */
  def zorderLayout(spark: SparkSession, sfDir: String,
                   bits: Int = 8, nFiles: Int = 64): DataFrame =
    zorderLayoutFrom(
      Tables.load(spark, sfDir, "orders").select(
        col("o_custkey").as("xr"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("yr")),
      bits, nFiles)

  /** Generic core over ANY (xr, yr) integer-pair frame. */
  def zorderLayoutFrom(df: DataFrame, bits: Int, nFiles: Int): DataFrame = {
    val n = 1L << bits
    val mm = df.agg(min("xr").as("minx"), max("xr").as("maxx"),
      min("yr").as("miny"), max("yr").as("maxy"))
    val scaled = df.crossJoin(broadcast(mm))
      .select(expr(s"(xr - minx) * $n div (maxx - minx + 1)").as("x"),
        expr(s"(yr - miny) * $n div (maxy - miny + 1)").as("y"))
      .withColumn("z", expr(mortonTerms(bits, "div")))
    def summarize(fileCol: Column, name: String) =
      scaled.groupBy(fileCol.as("f"))
        .agg(count(lit(1)).as("c"),
          (max("x") - min("x") + 1).as("xs"),
          (max("y") - min("y") + 1).as("ys"))
        .agg(count(lit(1)).as("n_files"), sum("c").as("n_rows"),
          round(avg(col("xs")), 4).as("avg_x_span"),
          round(avg(col("ys")), 4).as("avg_y_span"),
          round(avg(col("xs") * col("ys")), 4).as("avg_box"))
        .select(lit(name).as("layout"), col("n_files"), col("n_rows"),
          col("avg_x_span"), col("avg_y_span"), col("avg_box"))
    summarize(expr(s"z div ${(1L << (2 * bits)) / nFiles}"), "zorder")
      .unionByName(summarize(expr(s"x div ${n / nFiles}"), "linear"))
      .orderBy("layout")
  }
}
