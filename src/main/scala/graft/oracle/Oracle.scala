package graft.oracle

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fragments the DuckDB replays share, and the one ANN replay builder.
  *
  * A replay is built from literal SQL text and the models the engine
  * trains (inlined as VALUES rows and list literals), never from an
  * engine expression, so it stays independent of the code it checks.
  * Every fragment here is emitted in one spelling: the dot product, the
  * normed-vector CTE, the codebook rows, the PQ-encode chain, ADC, the
  * probe, the shortlist and the exact re-rank. */
private[oracle] object Oracle {

  /** The session and the scale-factor directory a trained replay reads
    * its input from: the one place `graft.oracle.sfdir` is read
    * (`graft.Verify` sets it to the SF the queries run at). */
  def input: (SparkSession, String) = {
    val spark = SparkSession.getActiveSession.getOrElse(
      graft.Tables.configure(SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")).getOrCreate())
    (spark, sys.props.getOrElse("graft.oracle.sfdir", "/root/testdata/sf0.01"))
  }

  /** The embeddings a trained replay's model is trained on — the frame
    * the engine's trainers read. */
  def vectors(): DataFrame = {
    val (spark, sfDir) = input
    graft.operators.Similarity.vectors(spark, sfDir)
  }

  /** Left-fold dot product with per-element double casts: the SQL twin
    * of `VectorFunctions.dot`, bit-identical by construction. */
  def dot(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"""

  /** `dot(ea, eb) / (na * nb)`. */
  def cosine(ea: String, eb: String, na: String, nb: String): String =
    s"${dot(ea, eb)} / ($na * $nb)"

  /** Cosine of two normed-vector rows `a` and `b` (`embedding`, `nrm`). */
  def cosOf(a: String, b: String): String =
    cosine(s"$a.embedding", s"$b.embedding", s"$a.nrm", s"$b.nrm")

  def arr(v: Array[Double]): String = v.mkString("[", ", ", "]")

  /** VALUES rows `(i, [row i])` of a matrix: centroid tables and
    * rotations. */
  def rows(m: Array[Array[Double]]): String =
    m.zipWithIndex.map { case (r, i) => s"($i, ${arr(r)})" }.mkString(", ")

  /** VALUES rows `(m, kk, [codeword], bias)` of a codebook set; the bias
    * is the same Scala double the engine's kernel adds, so `dot + bias`
    * is bit-identical in both engines. */
  def codebookRows(cbs: Array[Array[Array[Double]]]): String =
    (for {
      m <- cbs.indices
      kk <- cbs(m).indices
    } yield s"($m, $kk, ${arr(cbs(m)(kk))}, " +
      s"${graft.operators.Similarity.l2Biases(cbs(m))(kk)})").mkString(", ")

  /** The codebook set as one nested list literal, read by ADC. */
  def codebookLit(cbs: Array[Array[Array[Double]]]): String =
    cbs.map(_.map(arr).mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** `cb(m, kk, cv, bias)` rows and `cbl(cb)` literal of a codebook set,
    * under the names `name("cb")` and `name("cbl")`. */
  def codebookCtes(cbs: Array[Array[Array[Double]]],
                   name: String => String = identity): String =
    s"""${name("cb")}(m, kk, cv, bias) AS (VALUES ${codebookRows(cbs)}),
        ${name("cbl")} AS (SELECT ${codebookLit(cbs)} AS cb)"""

  /** One code column `c<m>` per sub-space out of `coded(vec_id, m, kk)`. */
  def codePivot(nSub: Int): String =
    (0 until nSub).map(m => s"max(CASE WHEN m = $m THEN kk END) AS c$m")
      .mkString(", ")

  /** `nv(vec_id, [label,] embedding, nrm)` over `src`. */
  def normCte(name: String = "nv", src: String = "embeddings",
              label: Boolean = false): String =
    s"""$name AS (SELECT vec_id, ${if (label) "label, " else ""}embedding,
                 sqrt(${dot("embedding", "embedding")}) AS nrm
               FROM $src)"""

  /** Every vector ranked against every centroid (dot DESC, cell ASC —
    * the engine's `NearestCells` tie-break): `crnk = 1` is its cell,
    * `crnk <= nProbe` a query's probed cells. */
  def rankedCte(name: String = "ranked", norm: String = "nv"): String =
    s"""$name AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM $norm v, cents c)"""

  /** Every corpus vector in its cell, with its norm, as candidate rows
    * named `id`. */
  def assignedCte(name: String = "assigned", ranked: String = "ranked",
                  id: String = "neighbor_id"): String =
    s"""$name AS (SELECT cell, vec_id AS $id, embedding AS e_c,
                       nrm AS n_c FROM $ranked WHERE crnk = 1)"""

  /** Each query's probed cells (`where` picks the queries; empty: every
    * vector); `norm` adds the query norm. */
  def probesCte(nProbe: Int, where: String, norm: Boolean,
                ranked: String = "ranked", name: String = "probes")
      : String =
    s"""$name AS (SELECT cell, vec_id AS query_id, embedding AS e_q${
        if (norm) ",\n                     nrm AS n_q" else ""}
                   FROM $ranked WHERE crnk <= $nProbe${
        if (where.isEmpty) "" else s" AND $where"})"""

  /** Cosine of probe row `p` to assigned row `a`. */
  def probedCos(p: String = "p"): String =
    cosine(s"$p.e_q", "a.e_c", s"$p.n_q", "a.n_c")

  /** The sq8 corpus `dq` tagged with each vector's cell. */
  def acandCte(name: String = "acand", dq: String = "dq",
               ranked: String = "ranked"): String =
    s"""$name AS (SELECT a.cell, d.vec_id, d.d FROM $dq d
                  JOIN (SELECT vec_id, cell FROM $ranked WHERE crnk = 1) a
                    ON a.vec_id = d.vec_id)"""

  /** Each vector minus its cell's centroid, in doubles: the corpus the
    * residual codebooks encode. */
  val residCte: String =
    """resid AS (SELECT r.vec_id, r.cell,
            list_transform(list_zip(r.embedding, c.cv),
              x -> CAST(x[1] AS DOUBLE) - x[2]) AS re
          FROM (SELECT vec_id, embedding, cell FROM ranked WHERE crnk = 1) r
          JOIN cents c ON c.cell = r.cell)"""

  /** The coded corpus `codes` tagged with each vector's cell from
    * `cells(vec_id, cell)`. */
  def cellCodesCte(name: String = "acodes", codes: String = "codes",
                   cells: String =
                     "SELECT vec_id, cell FROM ranked WHERE crnk = 1")
      : String =
    s"""$name AS (SELECT a.cell, c.* FROM $codes c
                   JOIN ($cells) a
                     ON a.vec_id = c.vec_id)"""

  /** Names of a second codebook's CTEs in one statement: `cb<s>`,
    * `cb<s>l`, `sub<s>`, `coded<s>`, `codes<s>`. */
  def suffix(s: String)(base: String): String =
    if (base == "cbl") s"cb${s}l" else base + s

  /** The PQ-encode chain over `src.col`: `sub` slices each vector into
    * `nSub` sub-spaces of `sub` dims, `coded` picks each slice's nearest
    * codeword of `cb` (dot + bias DESC, code ASC), `codes` pivots one
    * code column per sub-space. `name` maps each base name (`sub`,
    * `cb`, `coded`, `codes`) to the statement's name for it. */
  def pqEncode(nSub: Int, sub: Int, src: String, col: String = "embedding",
               name: String => String = identity,
               materialize: Boolean = false): String =
    s"""${subCte(nSub, sub, src, col, name("sub"))},
        ${codeCtes(nSub, name, materialize = materialize)}"""

  def subCte(nSub: Int, sub: Int, src: String, col: String = "embedding",
             name: String = "sub"): String =
    s"""$name AS (SELECT vec_id, mm.m AS m,
                  $col[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
                FROM $src,
                     (SELECT unnest(range(0, $nSub)) AS m) mm)"""

  /** `coded` and `codes` of [[pqEncode]]; `terms` keeps each slice, its
    * codeword and bias on `coded` for a quantization-error sum. */
  def codeCtes(nSub: Int, name: String => String = identity,
               terms: Boolean = false, materialize: Boolean = false)
      : String = {
    val (sb, cb) = (name("sub"), name("cb"))
    val keep = if (terms) ", s, cv, bias" else ""
    val keepIn = if (terms) s", $sb.s, $cb.cv, $cb.bias" else ""
    val mat = if (materialize) " MATERIALIZED" else ""
    s"""${name("coded")} AS (SELECT vec_id, m, kk$keep FROM (
                    SELECT $sb.vec_id, $sb.m, $cb.kk$keepIn,
                      row_number() OVER (PARTITION BY $sb.vec_id, $sb.m
                        ORDER BY (${dot(s"$sb.s", s"$cb.cv")} + $cb.bias) DESC,
                          $cb.kk) AS r
                    FROM $sb JOIN $cb ON $cb.m = $sb.m)
                  WHERE r = 1),
        ${name("codes")} AS$mat (SELECT vec_id, ${codePivot(nSub)}
                             FROM ${name("coded")} GROUP BY 1)"""
  }

  /** Asymmetric distance of query vector `q` to a coded row `n`: one dot
    * per sub-space slice against its codeword in `cbl`, summed left to
    * right in sub-space order; `centroid` (residual codes) adds the
    * centroid term FIRST — the engine's reduceLeft order. */
  def adc(q: String, cbl: String, nSub: Int, sub: Int,
          centroid: Option[String] = None): String =
    (centroid.map(dot(q, _)).toSeq ++ (0 until nSub).map { m =>
      dot(s"$q[${m * sub + 1}:${(m + 1) * sub}]",
        s"$cbl.cb[${m + 1}][n.c$m + 1]")
    }).mkString(" + ")

  /** Stage-1 score of an sq8 corpus row `n.d` for query vector `q`. */
  def sq8Score(q: String): String =
    s"""${dot(q, "n.d")}
                   / (sqrt(${dot(q, q)})
                      * sqrt(${dot("n.d", "n.d")}))"""

  /** The sq8 dequantized corpus over `src(vec_id, embedding)`: the
    * embedding_quantize per-element max-abs clamp/round, one body for
    * every replay of int8 serving. */
  def sq8Dequant(src: String = "embeddings"): String =
    s"""SELECT vec_id,
                 list_transform(embedding,
                   v -> least(greatest(
                          round(CAST(v AS DOUBLE) * scale), -127.0),
                          127.0) / scale) AS d
               FROM (SELECT vec_id, embedding,
                       CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                            ELSE 1.0 END AS scale
                     FROM (SELECT vec_id, embedding,
                             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                               list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))),
                               (a, b) -> greatest(a, b)) AS maxabs
                           FROM $src))"""

  /** Shortlist condition of an unprobed scan: query `q` against every
    * other corpus row `n`. */
  def unprobed(nQueries: Int): String =
    s"q.vec_id < $nQueries AND n.vec_id <> q.vec_id"

  /** Shortlist condition of a probed scan: corpus rows `n` in a cell
    * probe `p` visits. */
  val probed = "n.cell = p.cell AND n.vec_id <> p.query_id"

  /** Each query's top `limit` candidates by a stage-1 `score` (DESC,
    * candidate id ASC). `q` is the query id column as selected and
    * `qKey` as partitioned; candidates are `n` in `from`. */
  def shortlist(name: String, q: String, qKey: String, from: String,
                where: String, score: String, limit: Int,
                keepRank: Boolean = false): String =
    s"""$name AS (SELECT query_id, neighbor_id${
        if (keepRank) ", r" else ""} FROM (
            SELECT $q, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY $qKey ORDER BY
                ($score) DESC, n.vec_id) AS r
            FROM $from
            WHERE $where)
          WHERE r <= $limit)"""

  /** The k nearest pairs of `from` by cosine `cos` (DESC, neighbor id
    * ASC), as `(query_id, neighbor_id, rnk, cos6)`. */
  def topK(q: String, n: String, cos: String, from: String, k: Int)
      : String =
    s"""SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT $q.query_id, $n.neighbor_id,
            $cos AS cos,
            CAST(row_number() OVER (PARTITION BY $q.query_id ORDER BY
              $cos DESC,
              $n.neighbor_id) AS INTEGER) AS rnk
          FROM $from)
        WHERE rnk <= $k ORDER BY query_id, rnk"""

  /** The exact re-rank of shortlist `short` on the full vectors of
    * `nv`. */
  def rerank(short: String, k: Int): String =
    topK("s", "s", cosOf("qv", "cv"),
      s"""$short s
          JOIN nv qv ON qv.vec_id = s.query_id
          JOIN nv cv ON cv.vec_id = s.neighbor_id""", k)

  /** Each query's k nearest candidates of `from` by `cos` (DESC,
    * candidate ASC), as `(query_id, neighbor_id)`. `q` and `n` give each
    * id column as selected and as ordered by. */
  def topKIds(name: String, q: (String, String), n: (String, String),
              cos: String, from: String, k: Int): String =
    s"""$name AS (SELECT query_id, neighbor_id FROM (
            SELECT ${q._1}, ${n._1},
              row_number() OVER (PARTITION BY ${q._2} ORDER BY
                $cos DESC,
                ${n._2}) AS rnk
            FROM $from)
          WHERE rnk <= $k)"""

  /** Brute-force truth: each query's k nearest corpus vectors by exact
    * cosine over normed vectors `norm`. */
  def truthCte(name: String, norm: String, where: String, k: Int)
      : String =
    topKIds(name, ("q.vec_id AS query_id", "q.vec_id"),
      ("c.vec_id AS neighbor_id", "c.vec_id"), cosOf("q", "c"),
      s"$norm q JOIN $norm c ON c.vec_id <> q.vec_id" +
        (if (where.isEmpty) "" else s"\n            WHERE $where"), k)

  /** How many of the top-k pairs of `from` by `cos` hit `truth`. */
  def hits(q: String, n: String, cos: String, from: String, k: Int,
           truth: String = "truth",
           count: String = "CAST(count(*) AS BIGINT)"): String =
    s"""(SELECT $count
            FROM (SELECT $q.query_id, $n.neighbor_id,
                    row_number() OVER (PARTITION BY $q.query_id ORDER BY
                      $cos DESC, $n.neighbor_id) AS rnk
                  FROM $from) i
            JOIN $truth t ON t.query_id = i.query_id
                        AND t.neighbor_id = i.neighbor_id
            WHERE i.rnk <= $k)"""

  /** [[hits]] of the exact re-rank of shortlist `short`. */
  def rerankHits(short: String, k: Int): String =
    hits("s", "s", cosOf("qv", "cv"),
      s"""$short s
                  JOIN nv qv ON qv.vec_id = s.query_id
                  JOIN nv cv ON cv.vec_id = s.neighbor_id""", k)

  /** How the replay finds a query's candidates: every corpus vector, or
    * the vectors of its `nProbe` nearest cells of an IVF quantizer. */
  sealed trait Probe
  case object Brute extends Probe
  final case class Ivf(cents: Array[Array[Double]], nProbe: Int)
    extends Probe

  /** How the corpus is stored and scored before the exact re-rank: full
    * vectors (ranked exactly, no shortlist), int8 (sq8), or PQ codes
    * with optional residual-to-centroid encoding and OPQ rotation. */
  sealed trait Codec
  case object Exact extends Codec
  case object Sq8 extends Codec
  final case class Pq(cbs: Array[Array[Array[Double]]],
                      residual: Boolean = false,
                      rotation: Option[Array[Array[Double]]] = None)
    extends Codec

  /** The ANN replay of the engine's serving core: the first `nQueries`
    * vectors as queries, each served by `probe` × `codec`, a shortlist of
    * `shortlistFactor · k` by the codec's score, then the exact re-rank
    * to the top `k` — `(query_id, neighbor_id, rnk, cos6)`. */
  def ann(probe: Probe, codec: Codec, nQueries: Int = 10, k: Int = 5,
          shortlistFactor: Int = 8): String = {
    codec match {
      case Pq(_, true, _) =>
        require(probe != Brute, "residual codes need an IVF probe")
      case _ =>
    }
    val limit = shortlistFactor * k
    val qWhere = s"vec_id < $nQueries"
    (probe, codec) match {
      case (Brute, Exact) =>
        s"""WITH ${normCte("n", label = true)}
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT query_id, neighbor_id, cos,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
          FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ${cosOf("q", "c")} AS cos
                FROM n q JOIN n c ON c.vec_id <> q.vec_id
                WHERE q.$qWhere))
        WHERE rnk <= $k ORDER BY query_id, rnk"""
      case (Ivf(cents, nProbe), Exact) =>
        s"""WITH cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${normCte()},
        ${rankedCte()},
        ${assignedCte()},
        ${probesCte(nProbe, qWhere, norm = true)}
        ${topK("p", "a", probedCos(),
          """probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.query_id <> a.neighbor_id""", k)}"""
      case (Brute, Sq8) =>
        s"""WITH ${normCte()},
        dq AS (${sq8Dequant()}),
        ${shortlist("short", "q.vec_id AS query_id", "q.vec_id",
          "embeddings q JOIN dq n ON n.vec_id <> q.vec_id",
          s"q.$qWhere", sq8Score("q.embedding"), limit)}
        ${rerank("short", k)}"""
      case (Ivf(cents, nProbe), Sq8) =>
        s"""WITH cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${normCte()},
        ${rankedCte()},
        dq AS (${sq8Dequant()}),
        ${acandCte()},
        ${probesCte(nProbe, qWhere, norm = false)},
        ${shortlist("short", "p.query_id", "p.query_id", "probes p, acand n",
          probed, sq8Score("p.e_q"), limit)}
        ${rerank("short", k)}"""
      case (_, Pq(cbs, residual, rotation)) =>
        val nSub = cbs.length
        val sub = cbs.head.head.length
        val model = rotation.map(r => ",\n        " + rotationCtes(r))
          .getOrElse("")
        val encSrc = if (rotation.isDefined) "rot" else "embeddings"
        probe match {
          case Brute =>
            s"""WITH ${codebookCtes(cbs)}$model,
        ${normCte()},
        ${pqEncode(nSub, sub, encSrc)},
        ${shortlist("short", "q.vec_id AS query_id", "q.vec_id",
          s"$encSrc q, codes n, cbl",
          unprobed(nQueries), adc("q.embedding", "cbl", nSub, sub), limit)}
        ${rerank("short", k)}"""
          case Ivf(cents, nProbe) =>
            // residual codes encode each vector minus its centroid;
            // the rotated form probes with the raw query but scores its
            // rotation
            val enc =
              if (residual) s"""$residCte,
        ${pqEncode(nSub, sub, "resid", "re")}"""
              else pqEncode(nSub, sub, encSrc)
            val cells =
              if (residual) "SELECT vec_id, cell FROM resid"
              else "SELECT vec_id, cell FROM ranked WHERE crnk = 1"
            val probes = rotation match {
              case Some(_) =>
                s"""probes AS (SELECT r.cell, r.vec_id AS query_id,
                 rt.embedding AS e_q
               FROM ranked r JOIN rot rt ON rt.vec_id = r.vec_id
               WHERE r.crnk <= $nProbe AND r.$qWhere)"""
              case None => probesCte(nProbe, qWhere, norm = false)
            }
            val (ct, ctWhere) =
              if (residual) ("cents ct, ", "ct.cell = p.cell AND ")
              else ("", "")
            s"""WITH cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${codebookCtes(cbs)}$model,
        ${normCte()},
        ${rankedCte()},
        $enc,
        ${cellCodesCte(cells = cells)},
        $probes,
        ${shortlist("short", "p.query_id", "p.query_id",
          s"probes p, ${ct}acodes n, cbl",
          ctWhere + probed,
          adc("p.e_q", "cbl", nSub, sub,
            if (residual) Some("ct.cv") else None), limit)}
        ${rerank("short", k)}"""
        }
    }
  }

  /** `rr(j, rv)` rows of an OPQ rotation and `rot`: each vector of `src`
    * rotated as one dot per output dimension, `list(d ORDER BY j)` —
    * the engine's array(dot…) component for component. */
  def rotationCtes(r: Array[Array[Double]], src: String = "embeddings")
      : String =
    s"""rr(j, rv) AS (VALUES ${rows(r)}),
        rot AS (SELECT vec_id, list(rd ORDER BY j) AS embedding FROM (
            SELECT e.vec_id, r.j, ${dot("e.embedding", "r.rv")} AS rd
            FROM $src e, rr r) GROUP BY vec_id)"""
}
