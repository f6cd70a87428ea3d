package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Token pin of every DuckDB oracle string at sf0.01.
  *
  * Each entry's SHA-256 over [[OracleSpec.normalize]] of its SQL is
  * checked against `src/test/resources/oracle_pins.tsv` (`name<TAB>hex`),
  * and the key sets must be equal. The pin is over tokens, not bytes:
  * comments and whitespace runs outside quoted text do not count, so a
  * generator may be re-indented or split into shared fragments as long
  * as the SQL it emits is the same. Trained oracles inline the model the
  * engine trains at `graft.oracle.sfdir`, so the pin also holds those
  * models at sf0.01.
  *
  * On a mismatch the spec writes the computed pins to
  * `target/oracle_pins.actual.tsv`; a deliberate re-baseline copies that
  * file over the resource and names each changed row in CHANGES.md. */
class OracleSpec extends SparkSpec {
  import OracleSpec.{normalize, sha256}

  private val pinFile = Paths.get("src/test/resources/oracle_pins.tsv")

  test("normalize drops a -- comment up to its newline") {
    assert(normalize("SELECT a -- MATERIALIZED\n  FROM t") == "SELECT a FROM t")
    assert(normalize("  /* x\n y */ SELECT  1 ") == "SELECT 1")
  }

  test("normalize keeps whitespace inside a single-quoted literal") {
    assert(normalize("SELECT 'a  b'") != normalize("SELECT 'a b'"))
    assert(normalize("SELECT  'it''s  --  x'") == "SELECT 'it''s  --  x'")
  }

  test("normalize reads a double quote inside a literal as text") {
    assert(normalize("SELECT '\"'  ,\n  'a  b'") == "SELECT '\"' , 'a  b'")
    assert(normalize("SELECT \"a  b\"   FROM t") == "SELECT \"a  b\" FROM t")
  }

  test("every oracle string matches its pinned token hash at sf0.01") {
    spark // the oracle generators train through the active session
    val key = "graft.oracle.sfdir"
    val prev = sys.props.get(key)
    sys.props(key) = "/root/testdata/sf0.01"
    val oracles =
      try graft.oracle.OracleSql.all
      finally prev match {
        case Some(p) => sys.props(key) = p
        case None => sys.props.remove(key)
      }
    val actual = oracles.map { case (k, v) => k -> sha256(normalize(v)) }
    val pinned = Files.readAllLines(pinFile).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(k, h) = l.split("\t"); k -> h }
      .toMap
    val changed = actual.keySet.intersect(pinned.keySet)
      .filter(k => actual(k) != pinned(k)).toSeq.sorted
    if (actual != pinned) {
      val out = Paths.get("target/oracle_pins.actual.tsv")
      Files.createDirectories(out.getParent)
      Files.writeString(out, actual.toSeq.sorted
        .map { case (k, h) => s"$k\t$h\n" }.mkString)
    }
    val onlyComputed = (actual.keySet -- pinned.keySet).toSeq.sorted
    val onlyPinned = (pinned.keySet -- actual.keySet).toSeq.sorted
    assert(onlyComputed.isEmpty && onlyPinned.isEmpty,
      s"oracle keys differ: only computed $onlyComputed, only pinned $onlyPinned")
    assert(changed.isEmpty,
      s"${changed.size} oracle strings changed tokens: ${changed.mkString(", ")}" +
        " (computed pins in target/oracle_pins.actual.tsv)")
    assert(actual.size == 250)
  }
}

object OracleSpec {

  /** SQL text reduced to its tokens: `--` line comments and `/* */`
    * comments are dropped, each maximal whitespace run outside `'…'`
    * (with `''` escapes) and `"…"` becomes one space, and the ends are
    * trimmed. A comment counts as whitespace, so it still separates the
    * tokens either side of it. */
  def normalize(sql: String): String = {
    val out = new StringBuilder
    var space = false
    def emit(c: Char): Unit = {
      if (space && out.nonEmpty) out += ' '
      space = false
      out += c
    }
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql(i)
      if (c == '\'' || c == '"') {
        // a quoted run is copied as is, up to its closing quote; a
        // doubled quote inside it is an escape, not the end
        emit(c)
        i += 1
        var open = true
        while (open && i < n) {
          out += sql(i)
          if (sql(i) == c) {
            if (i + 1 < n && sql(i + 1) == c) { out += c; i += 1 }
            else open = false
          }
          i += 1
        }
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        while (i < n && sql(i) != '\n') i += 1
        space = true
      } else if (c == '/' && i + 1 < n && sql(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        i = if (end < 0) n else end + 2
        space = true
      } else if (c.isWhitespace) {
        space = true
        i += 1
      } else {
        emit(c)
        i += 1
      }
    }
    out.toString
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
