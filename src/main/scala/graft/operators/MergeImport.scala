package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Filtering.cents

/** §2 #38 — merge/upsert import: apply an incoming package of records to
  * an existing table, new versions winning by primary key.
  *
  * Reference semantics: importing a package INSERTs new records and
  * MODIFYs existing ones (Codeunit 60000:419 `ImportPackageXML` →
  * ApplyPackageRecords path). Declarative re-expression: union both
  * sides tagged with a version, keep the highest-version row per key
  * via one window — a single shuffle on the key, the standard lakehouse
  * upsert shape (same plan a MERGE INTO compiles to without a
  * transaction log).
  */
object MergeImport {

  def upsert(existing: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val tagged = existing.withColumn("_v", lit(0))
      .unionByName(incoming.withColumn("_v", lit(1)))
    val latest = Window.partitionBy(key).orderBy(col("_v").desc)
    tagged
      .withColumn("_rn", row_number().over(latest))
      .filter(col("_rn") === 1)
      .drop("_v", "_rn")
  }

  /** The lakehouse port of [[upsert]] as copy-paste SQL: a `MERGE INTO`
    * statement with identical semantics — key-matched rows updated from
    * the incoming side, absent keys inserted, incoming wins. With
    * `columns` empty the star form is emitted (Delta Lake and Apache
    * Iceberg both accept `UPDATE SET * / INSERT *` in Spark SQL); given
    * the update frame's columns, an explicit SET/INSERT list is emitted
    * for engines or review policies that disallow star expansion. Key
    * columns are never assigned in the UPDATE branch (they are equal by
    * the ON predicate; some engines reject assigning them). Identifiers
    * are backtick-quoted, so BC-style display names ("No.", "Amount
    * Incl. VAT") survive verbatim. docs/LAKEHOUSE.md maps each mutation
    * operator onto this one statement; MergeSqlSpec pins the emitted
    * text and parses it with Spark's own SQL parser. */
  def mergeSql(target: String, updates: String, keys: Seq[String],
               columns: Seq[String] = Seq.empty): String = {
    require(keys.nonEmpty, "mergeSql needs at least one key column")
    require(columns.isEmpty || keys.forall(columns.contains),
      s"key columns ${keys.filterNot(columns.contains).mkString(", ")} " +
        "missing from the explicit column list")
    def q(c: String) = s"`${c.replace("`", "``")}`"
    val on = keys.map(k => s"t.${q(k)} = u.${q(k)}").mkString(" AND ")
    val nonKey = columns.filterNot(keys.contains)
    val matched =
      if (columns.isEmpty) Some("UPDATE SET *")
      else if (nonKey.isEmpty) None // key-only table: nothing to update
      else Some("UPDATE SET " +
        nonKey.map(c => s"t.${q(c)} = u.${q(c)}").mkString(", "))
    val inserted =
      if (columns.isEmpty) "INSERT *"
      else s"INSERT (${columns.map(q).mkString(", ")}) " +
        s"VALUES (${columns.map(c => s"u.${q(c)}").mkString(", ")})"
    (Seq(s"MERGE INTO $target AS t", s"USING $updates AS u", s"ON $on") ++
      matched.map(m => s"WHEN MATCHED THEN $m") ++
      Seq(s"WHEN NOT MATCHED THEN $inserted")).mkString("\n")
  }

  /** FULL-SYNC form of [[mergeSql]]: the same MERGE plus `WHEN NOT
    * MATCHED BY SOURCE THEN DELETE`, making the target an exact mirror
    * of the update set — the statement a [[snapshotDiff]]-style
    * replication applies when the source is a complete snapshot rather
    * than a delta. Spark SQL ≥ 3.4 grammar (Delta and Iceberg both
    * execute it). */
  def mergeSyncSql(target: String, updates: String, keys: Seq[String],
                   columns: Seq[String] = Seq.empty): String =
    mergeSql(target, updates, keys, columns) +
      "\nWHEN NOT MATCHED BY SOURCE THEN DELETE"

  /** Query: simulate an update package — every order with key divisible
    * by 10 arrives re-priced (+1000.00) and re-statused to 'U', plus the
    * merge must keep every untouched order byte-identical. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val incoming = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("o_orderstatus", lit("U"))
    upsert(orders, incoming, "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_orderkey")
  }

  /** One table's outcome from an ordered package apply: the merged
    * frame plus the incoming rows the FK gate rejected (both lazy —
    * the caller decides what to aggregate/materialize). */
  case class AppliedTable(name: String, procOrder: Int,
                          applied: DataFrame, rejected: DataFrame)

  /** ORDERED package apply — the reference's `ApplyPackages` loop with
    * `SETCURRENTKEY(..., "Processing Order")` (Codeunit 60000:58-65,
    * :204, :329): tables are applied parents-first in the manifest's
    * processing order, and each table's incoming rows are FK-validated
    * against the parent's ALREADY-APPLIED state — so a child row
    * referencing a parent key that arrives in the SAME package is
    * accepted, while one referencing a key in no base/package table is
    * rejected (the reference records an apply error; here the rejected
    * rows come back as a frame).
    *
    * Scale shape: per table, one upsert window shuffle on the key plus
    * (for FK-gated tables) one left-semi/left-anti join pair against
    * the applied parent — key-partitioned joins, no broadcast
    * assumption (a parent dimension can be huge at 100 TB). The loop
    * itself is driver-side over the handful of manifest entries, never
    * over rows; everything row-shaped stays in one lazy DAG.
    *
    * @param keys primary-key column per table
    * @param fks  child table -> (child FK col, parent table, parent PK col)
    */
  def applyPackageOrdered(spark: SparkSession, dir: String,
                          base: Map[String, DataFrame],
                          keys: Map[String, String],
                          fks: Map[String, (String, String, String)] = Map.empty)
      : Seq[AppliedTable] = {
    val ordered = graft.sources.PackageIO.tablesInOrder(dir)
    // FK-vs-order topology guard: the declared processing order is a
    // CONTRACT, not a hint — a child FK-gated against a parent that the
    // apply sequence has not reached yet would validate against the
    // parent's PRE-package state and silently mis-gate rows (accepting
    // orphans of deleted parents, rejecting children of arriving ones).
    // A cyclic in-package FK graph has no valid order at all. Both fail
    // loudly here, before any data moves. (Reference analog: the apply
    // loop's ordered SETCURRENTKEY contract, Codeunit 60000:58-65.)
    // Self-referential FKs (employee.manager_id -> employee) are fine:
    // the table applies once and gates against its own already-applied
    // state — no ordering constraint exists, so they are exempt.
    val pos = ordered.map(_._1).zipWithIndex.toMap
    val badEdges = fks.collect {
      case (child, (fkCol, parent, _))
          if child != parent
            && pos.contains(child) && pos.contains(parent)
            && pos(parent) >= pos(child) =>
        s"$child.$fkCol -> $parent (child applies at position " +
          s"${pos(child) + 1}, parent at ${pos(parent) + 1})"
    }
    require(badEdges.isEmpty,
      "package processing order contradicts the FK graph (parents must " +
        s"apply before children; a cycle has no valid order): " +
        badEdges.mkString("; "))
    val state = scala.collection.mutable.Map(base.toSeq: _*)
    ordered.map { case (name, ord) =>
      val inc = graft.sources.PackageIO.readTable(spark, dir, name)
      val (accepted, rejected) = fks.get(name) match {
        case Some((childCol, parent, parentCol)) =>
          // validate against the parent AS ALREADY APPLIED this run —
          // the whole point of processing order
          val pKeys = state(parent).select(col(parentCol).as(childCol))
          (inc.join(pKeys, Seq(childCol), "left_semi"),
            inc.join(pKeys, Seq(childCol), "left_anti"))
        case None => (inc, inc.limit(0))
      }
      val applied = upsert(state(name), accepted, keys(name))
      state(name) = applied
      AppliedTable(name, ord, applied, rejected)
    }
  }

  /** §2 #69 — the reference's END-TO-END flow composed: stage an
    * incremental package (orders re-priced for keys %10, customers
    * re-segmented for keys %7) through the real package sink with
    * explicit processing order (customer=1 before orders=2 — orders
    * carries the o_custkey FK), then [[applyPackageOrdered]]: re-import
    * each table IN ORDER, FK-gate orders against the applied customer
    * set, upsert into the base tables, and report per-table
    * (order, applied, changed, rejected) FROM THE MERGED RESULT. */
  def packageApply(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.operators.ExportImport.scratch("apply-pkg")
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    val ordersInc = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("o_orderstatus", lit("U"))
    val custInc = customer.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("UPDATED"))
    graft.sources.PackageIO.writePackage(spark, dir,
      Map("orders" -> ordersInc, "customer" -> custInc),
      processingOrder = Map("customer" -> 1, "orders" -> 2))

    val results = applyPackageOrdered(spark, dir,
      base = Map("orders" -> orders, "customer" -> customer),
      keys = Map("orders" -> "o_orderkey", "customer" -> "c_custkey"),
      fks = Map("orders" -> ("o_custkey", "customer", "c_custkey")))
    results.map { r =>
      val changed = r.name match {
        case "customer" => count(when(col("c_mktsegment") === "UPDATED", 1))
        case _          => count(when(col("o_orderstatus") === "U", 1))
      }
      r.applied.agg(lit(r.name).as("tab"),
          lit(r.procOrder).as("proc_order"),
          count(lit(1)).as("n_rows"), changed.as("n_changed"))
        .crossJoin(r.rejected.agg(count(lit(1)).as("n_rejected")))
    }.reduce(_.unionAll(_)).orderBy("proc_order")
  }

  /** Generic snapshot diff: rows added/removed/changed between two
    * keyed snapshots — one co-partitioned full-outer join (the canonical
    * CDC shape: a single sort-merge exchange on the key at any scale). */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
           compareCol: String): DataFrame = {
    val o = oldSnap.select(col(key).as("k"), col(compareCol).as("old_val"))
    val n = newSnap.select(col(key).as("k"), col(compareCol).as("new_val"))
    o.join(n, Seq("k"), "full_outer")
      .select(col("k").as(key),
        when(col("old_val").isNull, "added")
          .when(col("new_val").isNull, "removed")
          .when(col("old_val") =!= col("new_val"), "changed")
          .otherwise("same").as("change_type"),
        col("old_val"), col("new_val"))
      .filter(col("change_type") =!= "same")
  }

  /** §2 #54 — snapshot diff query: the orders table against a
    * deterministically mutated next version (keys %127 removed, %113
    * re-priced, %131 cloned under a shifted key) — what a migration run
    * reports before applying an incremental package. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"),
        cents(col("o_totalprice")).as("price_c"))
    val newSnap = src.filter(col("k") % 127 =!= 0)
      .select(col("k"),
        when(col("k") % 113 === 0, col("price_c") + 11)
          .otherwise(col("price_c")).as("price_c"))
      .unionAll(src.filter(col("k") % 131 === 0)
        .select((col("k") + 100000000L).as("k"), col("price_c")))
    diff(src, newSnap, "k", "price_c")
      .select(col("k").as("o_orderkey"), col("change_type"),
        col("old_val").as("old_price_c"), col("new_val").as("new_price_c"))
      .orderBy("o_orderkey", "change_type")
  }

  /** Generic core: SCD TYPE-2 interval build over ANY
    * (user_id, event_id, t, status) change stream — collapse
    * consecutive equal statuses and emit versioned validity intervals
    * (valid_from, valid_to, is_current): the dimension-history table a
    * warehouse migration materializes from a mutation log (the
    * reference's change-tracking import is the row-at-a-time version
    * of exactly this).
    *
    * Scale shape: both windows partition by user_id over the SAME
    * (t, event_id) order, so Spark plans ONE exchange + ONE sort and
    * evaluates lag/lead/row_number in a single window pass per
    * partition — the canonical keyed-history shape that scales with
    * users, not with history depth per machine. */
  def scd2IntervalsFrom(ev: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("t"), col("event_id"))
    val changes = ev
      .withColumn("prev", lag("status", 1).over(byTime))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
    changes
      .withColumn("version", row_number().over(byTime))
      .withColumn("valid_to_us", lead("t", 1).over(byTime))
      .select(col("user_id"), col("version"), col("status"),
        col("t").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** §2 #108 — SCD2 status history of the events stream (event_type
    * plays the tracked attribute; micros keep the interval bounds
    * engine-exact). */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame =
    scd2IntervalsFrom(Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("event_type").as("status")))

  /** Generic core: CORPUS VERSION DIFF over two (doc_id, source, text)
    * frames — per (source, status ∈ added|removed|changed|unchanged)
    * the doc and char volume, with "changed" decided by the sha256
    * content fingerprint. The governance table a 100 TB pipeline reads
    * between corpus versions before re-running anything downstream
    * (what moved, where, how much — the content-level companion of
    * #54's keyed-row diff).
    *
    * Scale shape: fingerprints are map-only; ONE full-outer equi-join
    * on doc_id (both sides shuffle once, co-partitioned) + one
    * (source, status) hash agg. Text itself never joins — only
    * (id, source, sha, len) rows move. */
  def corpusDiffFrom(v1: DataFrame, v2: DataFrame): DataFrame = {
    def fp(df: DataFrame, f: String, s: String, c: String) =
      df.select(col("doc_id"), col("source").as(s),
        sha2(col("text").cast("binary"), 256).as(f),
        length(col("text")).cast("long").as(c))
    fp(v1, "f1", "s1", "c1")
      .join(fp(v2, "f2", "s2", "c2"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("s1"), col("s2")).as("source"),
        when(col("f1").isNull, "added")
          .when(col("f2").isNull, "removed")
          .when(col("f1") =!= col("f2"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("c2"), col("c1")).as("chars"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum("chars").as("n_chars"))
      .orderBy("source", "status")
  }

  /** §2 #190 — corpus diff of documents against a deterministically
    * mutated next version (%13 dropped, %17 edited, %19 cloned into
    * the negative-id namespace — the event_dedup replay stance, so
    * both engines build the identical v2). */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val v2 = v1.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(v1.filter(col("doc_id") % 19 === 0)
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("source"),
          col("text")))
    corpusDiffFrom(v1, v2)
  }
}
