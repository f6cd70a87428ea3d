package graft.oracle


/** DuckDB replays of the media queries: PNG/BMP/JPEG/WAV fields,
  * perceptual and audio fingerprints (Blob). */
object Blob {

  /** DuckDB oracle for [[graft.operators.Blob.mediaFrameSampleArith]]:
    * encodeBmp's layout is a pure function of the payload length (48-byte rows,
    * 54-byte header), so counts, sampled indices, and offsets replay
    * arithmetically. */
  def mediaFrameSampleOracle(everyK: Int = 4): String =
    s"""WITH f AS (
          SELECT doc_id,
            greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                        AS BIGINT)) AS n_frames
          FROM documents)
       SELECT doc_id, n_frames,
              unnest(range(0, n_frames, $everyK)) AS frame_ix,
              54 + 48 * unnest(range(0, n_frames, $everyK)) AS frame_off
       FROM f ORDER BY doc_id, frame_ix"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaPngRoundtripArith]]: the
    * raster geometry is a pure function of the payload length; `ok` asserts the
    * decoded pixels equal the source payload — losslessness through real zlib
    * compression and all five scanline filters. */
  val mediaPngRoundtripOracle: String =
    """SELECT doc_id,
         CAST(16 AS BIGINT) AS width,
         greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                     AS BIGINT)) AS height,
         48 * greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                       AS BIGINT)) AS raster_bytes,
         true AS ok
       FROM documents ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaResizePng]]: same raster
    * arithmetic as the BMP resize; `ok` asserts pixel-exact nearest-neighbor
    * selection through two full compress/decompress cycles. */
  val mediaResizePngOracle: String =
    """SELECT doc_id,
         CAST(16 AS BIGINT) AS src_w,
         greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                     AS BIGINT)) AS src_h,
         CAST(8 AS BIGINT) AS dst_w,
         CAST(ceil(greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                            AS BIGINT)) / 2.0) AS BIGINT) AS dst_h,
         true AS ok
       FROM documents ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaResize]]: dst rows are 8 px
    * × 24 bpp = 24-byte (already aligned) rows under a 54-byte header. */
  val mediaResizeOracle: String =
    """SELECT doc_id,
         CAST(16 AS BIGINT) AS src_w,
         greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                     AS BIGINT)) AS src_h,
         CAST(8 AS BIGINT) AS dst_w,
         CAST(ceil(greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                            AS BIGINT)) / 2.0) AS BIGINT) AS dst_h,
         54 + 24 * CAST(ceil(greatest(1,
             CAST(ceil(octet_length(encode(text)) / 48.0) AS BIGINT))
             / 2.0) AS BIGINT) AS dst_bytes,
         true AS ok
       FROM documents ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaJpegStatsArith]]: raster
    * geometry is a pure function of payload length; the SOF walk must recover
    * it from the container bytes and the full decode must agree — both folded
    * into `decode_ok`. */
  val mediaJpegStatsOracle: String =
    """SELECT doc_id,
         CAST(16 AS BIGINT) AS width,
         greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                     AS BIGINT)) AS height,
         CAST(16 AS BIGINT) AS sof_w,
         greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0)
                     AS BIGINT)) AS sof_h,
         CAST(3 AS BIGINT) AS n_comp,
         true AS decode_ok
       FROM documents ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaPhashIncremental]]:
    * fingerprints replay from code points, the decision rule replays as EXISTS
    * over the all-pairs Hamming relation restricted to (base ∪ smaller-id
    * delta) blockers. */
  def mediaPhashIncrementalOracle(maxHamming: Int = 7, mod: Int = 10,
                                  deltaFrom: Int = 8): String =
    s"""WITH cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents),
        d AS (
          SELECT doc_id, cp,
            greatest(1, CAST(ceil(len(cp) / 16.0) AS BIGINT)) AS h
          FROM cps),
        f AS (
          SELECT doc_id,
            CAST(list_sum(flatten([[
              CASE WHEN
                (CASE WHEN 16*((gy*h)//8) + 2*(gx+1) < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*(gx+1) + 1
                              AS INTEGER)] % 256 ELSE 0 END)
                >
                (CASE WHEN 16*((gy*h)//8) + 2*gx < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*gx + 1
                              AS INTEGER)] % 256 ELSE 0 END)
              THEN CAST(1 AS BIGINT) << (7*gy + gx) ELSE 0 END
              for gx in range(7)] for gy in range(8)])) AS BIGINT) AS fp
          FROM d)
       SELECT a.doc_id AS doc_id,
              CASE WHEN EXISTS (
                SELECT 1 FROM f b
                WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
                  AND (b.doc_id % $mod < $deltaFrom
                       OR (b.doc_id % $mod >= $deltaFrom
                           AND b.doc_id < a.doc_id)))
                THEN 'near' ELSE 'kept' END AS decision
       FROM f a WHERE a.doc_id % $mod >= $deltaFrom
       ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaPhashDedup]]: gray values
    * replay from code points (the WAV contract), the 8×8 sample grid and the 56
    * difference bits replay arithmetically, and the all-pairs xor/bit_count
    * join brute-forces the same pairs the banded plan finds — recall equality
    * is the checked property. */
  def mediaPhashDedupOracle(maxHamming: Int = 7): String =
    s"""WITH cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents),
        d AS (
          SELECT doc_id, cp,
            greatest(1, CAST(ceil(len(cp) / 16.0) AS BIGINT)) AS h
          FROM cps),
        f AS (
          SELECT doc_id,
            CAST(list_sum(flatten([[
              CASE WHEN
                (CASE WHEN 16*((gy*h)//8) + 2*(gx+1) < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*(gx+1) + 1
                              AS INTEGER)] % 256 ELSE 0 END)
                >
                (CASE WHEN 16*((gy*h)//8) + 2*gx < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*gx + 1
                              AS INTEGER)] % 256 ELSE 0 END)
              THEN CAST(1 AS BIGINT) << (7*gy + gx) ELSE 0 END
              for gx in range(7)] for gy in range(8)])) AS BIGINT) AS fp
          FROM d)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       FROM f a JOIN f b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
       ORDER BY id_a, id_b"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaPhashClusters]]: the phash
    * pair CTE plus the same recursive transitive-closure cluster truth as
    * dedup_clusters. */
  def mediaPhashClustersOracle(maxHamming: Int = 7): String =
    s"""WITH RECURSIVE cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents),
        d AS (
          SELECT doc_id, cp,
            greatest(1, CAST(ceil(len(cp) / 16.0) AS BIGINT)) AS h
          FROM cps),
        f AS (
          SELECT doc_id,
            CAST(list_sum(flatten([[
              CASE WHEN
                (CASE WHEN 16*((gy*h)//8) + 2*(gx+1) < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*(gx+1) + 1
                              AS INTEGER)] % 256 ELSE 0 END)
                >
                (CASE WHEN 16*((gy*h)//8) + 2*gx < len(cp)
                      THEN cp[CAST(16*((gy*h)//8) + 2*gx + 1
                              AS INTEGER)] % 256 ELSE 0 END)
              THEN CAST(1 AS BIGINT) << (7*gy + gx) ELSE 0 END
              for gx in range(7)] for gy in range(8)])) AS BIGINT) AS fp
          FROM d),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM f a JOIN f b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       SELECT id AS doc_id, cluster_id,
              CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                AS n_members,
              id = cluster_id AS is_canonical
       FROM lab ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.hammingPlan]]: fingerprints
    * replay from code points; candidate volume replays the band-key grouping
    * with the same shift/mask arithmetic; the recall rationals are re-derived
    * INDEPENDENTLY — multiplicative binomials built stepwise in a recursive CTE
    * (each partial product C(n−k+j, j) is an integer, so HUGEINT floor division
    * is exact), then the same inclusion- exclusion sum. */
  def hammingPlanOracle(): String =
    s"""WITH RECURSIVE cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents WHERE len(text) >= 1),
        s AS (SELECT doc_id,
            list_transform(cp,
              c -> CAST(((c % 256) - 128) * 256 AS BIGINT)) AS s
          FROM cps),
        e AS (SELECT doc_id,
            [coalesce(list_sum(
                list_transform(s[CAST((k*len(s))//57 + 1 AS INTEGER)
                                :CAST(((k+1)*len(s))//57 AS INTEGER)],
                  x -> abs(x))), 0)
             for k in range(57)] AS env
          FROM s),
        f AS (SELECT doc_id,
            CAST(list_sum([CASE WHEN env[k+2] > env[k+1]
                                THEN CAST(1 AS BIGINT) << k ELSE 0 END
                           for k in range(56)]) AS BIGINT) AS fp
          FROM e),
        schemes(bands, band_bits) AS (VALUES
          (2, 28), (4, 14), (7, 8), (8, 7), (14, 4), (28, 2), (56, 1)),
        bandix AS (SELECT bands, band_bits,
                          unnest(range(0, bands)) AS band FROM schemes),
        kb AS (SELECT k.bands, k.band_bits, k.band,
                      (f.fp >> (k.band * k.band_bits))
                        & ((CAST(1 AS BIGINT) << k.band_bits) - 1) AS bkey,
                      count(*) AS c
               FROM bandix k CROSS JOIN f
               GROUP BY k.bands, k.band_bits, k.band, bkey),
        cand AS (SELECT bands, band_bits,
                        CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_rows
                 FROM kb GROUP BY bands, band_bits),
        hs(h) AS (VALUES (8), (10), (13)),
        needs AS (
          SELECT DISTINCT n, k FROM (
            SELECT bands AS n, unnest(range(1, bands + 1)) AS k
            FROM schemes
            UNION ALL
            SELECT 56 - ii.i * s.band_bits AS n, hs.h AS k
            FROM schemes s
            CROSS JOIN (SELECT unnest(range(1, 57)) AS i) ii
            CROSS JOIN hs
            WHERE ii.i <= s.bands AND 56 - ii.i * s.band_bits >= 0
            UNION ALL
            SELECT 56 AS n, h AS k FROM hs)
          WHERE k <= n AND k >= 1),
        binr(n, k, j, v) AS (
          SELECT n, k, 0, CAST(1 AS HUGEINT) FROM needs
          UNION ALL
          SELECT n, k, j + 1, (v * (n - k + j + 1)) // (j + 1)
          FROM binr WHERE j < k),
        bin AS (SELECT n, k, v FROM binr WHERE j = k),
        terms AS (
          SELECT s.bands, s.band_bits, hs.h,
                 (CASE WHEN ii.i % 2 = 1 THEN 1 ELSE -1 END)
                   * cb.v * cr.v AS t
          FROM schemes s
          CROSS JOIN (SELECT unnest(range(1, 57)) AS i) ii
          CROSS JOIN hs
          JOIN bin cb ON cb.n = s.bands AND cb.k = ii.i
          JOIN bin cr ON cr.n = 56 - ii.i * s.band_bits AND cr.k = hs.h
          WHERE ii.i <= s.bands AND 56 - ii.i * s.band_bits >= hs.h),
        rec AS (SELECT bands, band_bits, h, sum(t) AS num
                FROM terms GROUP BY bands, band_bits, h),
        den AS (SELECT hs.h, b.v AS den
                FROM hs JOIN bin b ON b.n = 56 AND b.k = hs.h)
       SELECT c.bands, c.band_bits, c.bands - 1 AS exact_radius,
              c.cand_rows,
              round(CAST(r8.num AS DOUBLE) / CAST(d8.den AS DOUBLE), 6)
                AS rec6_h8,
              round(CAST(r10.num AS DOUBLE) / CAST(d10.den AS DOUBLE), 6)
                AS rec6_h10,
              round(CAST(r13.num AS DOUBLE) / CAST(d13.den AS DOUBLE), 6)
                AS rec6_h13,
              CAST(r13.num AS BIGINT) AS rec_num_h13,
              CAST(d13.den AS BIGINT) AS rec_den_h13
       FROM cand c
       JOIN rec r8 ON r8.bands = c.bands
         AND r8.band_bits = c.band_bits AND r8.h = 8
       JOIN rec r10 ON r10.bands = c.bands
         AND r10.band_bits = c.band_bits AND r10.h = 10
       JOIN rec r13 ON r13.bands = c.bands
         AND r13.band_bits = c.band_bits AND r13.h = 13
       JOIN den d8 ON d8.h = 8
       JOIN den d10 ON d10.h = 10
       JOIN den d13 ON d13.h = 13
       ORDER BY c.bands"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaWavFpDedup]]: samples and
    * the 57-frame energy envelope replay from code points (exact integer sums),
    * the 56 difference bits replay arithmetically, and the all-pairs
    * xor/bit_count join brute-forces the same pairs the banded plan finds. */
  def mediaWavFpDedupOracle(maxHamming: Int = 13): String =
    s"""WITH cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents WHERE len(text) >= 1),
        s AS (SELECT doc_id,
            list_transform(cp,
              c -> CAST(((c % 256) - 128) * 256 AS BIGINT)) AS s
          FROM cps),
        e AS (SELECT doc_id,
            [coalesce(list_sum(
                list_transform(s[CAST((k*len(s))//57 + 1 AS INTEGER)
                                :CAST(((k+1)*len(s))//57 AS INTEGER)],
                  x -> abs(x))), 0)
             for k in range(57)] AS env
          FROM s),
        f AS (SELECT doc_id,
            CAST(list_sum([CASE WHEN env[k+2] > env[k+1]
                                THEN CAST(1 AS BIGINT) << k ELSE 0 END
                           for k in range(56)]) AS BIGINT) AS fp
          FROM e)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       FROM f a JOIN f b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
       ORDER BY id_a, id_b"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaWavFpPlanned]]: same
    * fingerprint replay as [[mediaWavFpDedupOracle]], with the candidate stage
    * replayed EXACTLY — a pair survives iff some 7-bit contiguous band of the
    * two fingerprints is identical (xor band = 0), i.e. the same deterministic
    * 8×7 band join the Spark plan executes — then the same Hamming ≤ maxH
    * verification. */
  def mediaWavFpPlannedOracle(maxHamming: Int = 13): String = {
    val bandMatch = (0 until 8)
      .map(b => s"((xor(a.fp, b.fp) >> ${b * 7}) & 127) = 0")
      .mkString("(", " OR ", ")")
    s"""WITH cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents WHERE len(text) >= 1),
        s AS (SELECT doc_id,
            list_transform(cp,
              c -> CAST(((c % 256) - 128) * 256 AS BIGINT)) AS s
          FROM cps),
        e AS (SELECT doc_id,
            [coalesce(list_sum(
                list_transform(s[CAST((k*len(s))//57 + 1 AS INTEGER)
                                :CAST(((k+1)*len(s))//57 AS INTEGER)],
                  x -> abs(x))), 0)
             for k in range(57)] AS env
          FROM s),
        f AS (SELECT doc_id,
            CAST(list_sum([CASE WHEN env[k+2] > env[k+1]
                                THEN CAST(1 AS BIGINT) << k ELSE 0 END
                           for k in range(56)]) AS BIGINT) AS fp
          FROM e)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       FROM f a JOIN f b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
         AND $bandMatch
       ORDER BY id_a, id_b"""
  }

  /** The wav fingerprint CTE chain (cps → s → e → f), shared by the
    * round-13 audio oracles: code points → samples → 57-frame exact-
    * integer energy envelope → 56 difference bits. */
  private val wavFpCte: String =
    s"""cps AS (
          SELECT doc_id,
            [unicode(text[i])
             for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
          FROM documents WHERE len(text) >= 1),
        s AS (SELECT doc_id,
            list_transform(cp,
              c -> CAST(((c % 256) - 128) * 256 AS BIGINT)) AS s
          FROM cps),
        e AS (SELECT doc_id,
            [coalesce(list_sum(
                list_transform(s[CAST((k*len(s))//57 + 1 AS INTEGER)
                                :CAST(((k+1)*len(s))//57 AS INTEGER)],
                  x -> abs(x))), 0)
             for k in range(57)] AS env
          FROM s),
        f AS (SELECT doc_id,
            CAST(list_sum([CASE WHEN env[k+2] > env[k+1]
                                THEN CAST(1 AS BIGINT) << k ELSE 0 END
                           for k in range(56)]) AS BIGINT) AS fp
          FROM e)"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaWavFpIncremental]]:
    * fingerprints replay from code points; the decision rule replays as EXISTS
    * over the all-pairs Hamming relation restricted to base ∪ smaller-id delta
    * blockers (exact at radius 7 by pigeonhole, so no band arithmetic is
    * needed). */
  def mediaWavFpIncrementalOracle(maxHamming: Int = 7, mod: Int = 10,
                                  deltaFrom: Int = 8): String =
    s"""WITH $wavFpCte
       SELECT a.doc_id,
              CASE WHEN EXISTS (
                SELECT 1 FROM f b
                WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming
                  AND (b.doc_id % $mod < $deltaFrom
                       OR (b.doc_id % $mod >= $deltaFrom
                           AND b.doc_id < a.doc_id)))
                THEN 'near' ELSE 'kept' END AS decision
       FROM f a WHERE a.doc_id % $mod >= $deltaFrom
       ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaWavFpClusters]]: the wav
    * fingerprint CTE plus the same recursive transitive-closure cluster truth
    * as dedup_clusters (seeded from ALL documents, so fingerprint-less docs
    * stay singletons). */
  def mediaWavFpClustersOracle(maxHamming: Int = 7): String =
    s"""WITH RECURSIVE $wavFpCte,
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM f a JOIN f b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       SELECT id AS doc_id, cluster_id,
              CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                AS n_members,
              id = cluster_id AS is_canonical
       FROM lab ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Blob.mediaWavStats]]: the sample
    * mapping and every statistic replayed from code points; container size =
    * 44-byte canonical header + 2 bytes per sample. */
  def mediaWavStatsOracle(sampleRate: Int = 16000): String =
    s"""WITH cps AS (SELECT doc_id,
             [unicode(text[i])
              for i in range(1, CAST(len(text) AS INTEGER) + 1)] AS cp
           FROM documents WHERE len(text) >= 1),
        s AS (SELECT doc_id,
             list_transform(cp,
               c -> CAST(((c % 256) - 128) * 256 AS BIGINT)) AS s
           FROM cps)
       SELECT doc_id, $sampleRate AS sample_rate,
         CAST(44 + 2 * len(s) AS BIGINT) AS n_bytes,
         CAST(len(s) AS BIGINT) AS n_samples,
         CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
         round(sqrt(CAST(list_reduce(list_transform(s, x -> x * x),
             (a, b) -> a + b) AS DOUBLE) / len(s)), 4) AS rms4
       FROM s ORDER BY doc_id"""
}
