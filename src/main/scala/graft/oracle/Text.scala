package graft.oracle

import graft.operators.TextAnalysis.{kappaSelect, langCaseSql, sharedUnigramLp}

/** DuckDB replays of the text-analysis and tokenizer queries
  * (TextAnalysis). */
object Text {

  def packEfficiencyOracle(maxTokens: Long = 2048L): String =
    s"""WITH toks AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
           FROM documents),
        pos AS (SELECT doc_id, n_tok,
                  sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS cb
                FROM toks)
       SELECT CAST(CASE WHEN sum(n_tok) > 0
                        THEN (sum(n_tok) - 1) // $maxTokens + 1
                        ELSE 0 END AS BIGINT) AS n_seqs,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         round(CAST(sum(n_tok) AS BIGINT)
           / (((sum(n_tok) - 1) // $maxTokens + 1)
              * CAST($maxTokens AS DOUBLE)), 4)
           AS mean_fill4,
         CAST(sum(CASE WHEN n_tok > 0
                        AND cb // $maxTokens <> (cb + n_tok - 1) // $maxTokens
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
       FROM pos"""

  val htmlStripOracle: String =
    """WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN
             '<html><head><script type="text/js">var x = 1 < 2;</script>'
             || '</head><body><p>' || text
             || '</p><a href="https://example.com">ref</a></body></html>'
           ELSE text END AS text
         FROM documents),
        stripped AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT)
             AS n_tags,
           CAST(len(regexp_extract_all(text, '<a\s')) AS BIGINT)
             AS n_links,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
             '\s+', ' ', 'g')) AS clean
         FROM src)
       SELECT doc_id, n_tags, n_links,
         CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_words_clean,
         sha256(clean) AS clean_sha
       FROM stripped ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.charsetGate]]. */
  val charsetOracle: String =
    """WITH t AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 9 = 0
                THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INTEGER))
                ELSE '' END ||
           CASE WHEN doc_id % 15 = 0 THEN chr(7) ELSE '' END AS text
         FROM documents),
        c AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, chr(65533))) AS BIGINT)
             AS n_replacement,
           CAST(len(regexp_extract_all(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control
         FROM t)
       SELECT doc_id, n_chars, n_replacement, n_control,
         round(1.0 - (n_replacement + n_control)
               / CAST(n_chars AS DOUBLE), 4) AS clean_frac,
         (n_replacement = 0 AND n_control = 0) AS charset_ok
       FROM c ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.vocabCoverage]]. */
  val vocabOracle: String =
    """WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
             AS word FROM documents),
        c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        top AS (SELECT word, n FROM c ORDER BY n DESC, word LIMIT 100)
       SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INTEGER)
                AS rank,
              word, n,
              round(CAST(sum(n) OVER (ORDER BY n DESC, word
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) / CAST(total AS DOUBLE), 4) AS cum_frac
       FROM top, t ORDER BY rank"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.wordPmi]]. */
  val pmiOracle: String =
    """WITH w AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
        uni AS (SELECT unnest(w) AS t FROM w),
        c1 AS (SELECT t, count(*) AS c1 FROM uni GROUP BY t),
        nw AS (SELECT CAST(sum(c1) AS BIGINT) AS n_words FROM c1),
        bg AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                              for i in range(1, len(w))]) AS s
               FROM w WHERE len(w) >= 2),
        c2 AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS n_pair
               FROM bg GROUP BY 1, 2),
        nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_bigrams FROM c2)
       SELECT w1, w2, n_pair, a.c1 AS n_w1, b.c1 AS n_w2,
              round(ln((CAST(n_pair AS DOUBLE) * n_words * n_words)
                    / (CAST(n_bigrams AS DOUBLE) * a.c1 * b.c1)), 4) AS pmi
       FROM c2 JOIN c1 a ON c2.w1 = a.t JOIN c1 b ON c2.w2 = b.t, nw, nb
       WHERE n_pair >= 5
       ORDER BY pmi DESC, w1, w2 LIMIT 50"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.qualityModel]] (features
    * = the text_stats oracle's, verbatim). */
  val qualityModelOracle: String =
    """WITH s AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
               AS n_punct,
             CAST(len(regexp_extract_all(lower(text),
               '\b(?:the|and|is|of|to)\b', 0)) AS BIGINT) AS n_stop
           FROM documents),
        f AS (SELECT doc_id, n_words,
             round(n_stop / n_words, 4) AS stop_ratio,
             round(n_punct / n_chars_calc, 4) AS punct_ratio FROM s),
        z AS (SELECT doc_id,
             -2.0 + 0.9 * ln(n_words + 1.0)
               + 3.0 * stop_ratio - 8.0 * punct_ratio AS z FROM f)
       SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
              round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS accepted
       FROM z ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.qualityCalibration]] —
    * the quality_model and lang_id oracle pipelines joined and
    * decile-bucketed. */
  val qualityCalibrationOracle: String =
    s"""WITH s AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
               AS n_punct,
             CAST(len(regexp_extract_all(lower(text),
               '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
           FROM documents),
        f AS (SELECT doc_id,
             -2.0 + 0.9 * ln(n_words + 1.0)
               + 3.0 * round(n_stop / n_words, 4)
               - 8.0 * round(n_punct / n_chars_calc, 4) AS z FROM s),
        q AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score
              FROM f),
        li AS (SELECT doc_id, pred_lang = lang AS is_match FROM (
            SELECT doc_id, lang, $langCaseSql AS pred_lang
            FROM (SELECT doc_id, lang,
                    len(regexp_extract_all(text,
                      '[\\x{4e00}-\\x{9fff}]', 0)) AS c_zh,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
                  FROM documents))),
        j AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER)
                AS decile, score, is_match
              FROM q JOIN li USING (doc_id))
       SELECT decile, count(*) AS n_docs,
         round(CAST(sum(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
               / count(*), 4) AS mean_score,
         CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lang_ok,
         round(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS lang_ok_rate
       FROM j GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.invertedIndex]]. */
  val invertedIndexOracle: String =
    s"""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents),
        pd AS (SELECT term, doc_id, count(*) AS tf
               FROM t GROUP BY term, doc_id)
       SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
              min(doc_id) AS first_doc, max(doc_id) AS last_doc,
              CAST(sum(CAST(${Quality.knuthSql("doc_id")} AS HUGEINT))
                % 2305843009213693951 AS BIGINT) AS postings_check
       FROM pd GROUP BY term
       ORDER BY df DESC, term LIMIT 50"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.sourceMixReport]]. */
  val sourceMixOracle: String =
    """WITH bl AS (SELECT source, lang, count(*) AS n,
            CAST(sum(len(string_split_regex(trim(text), '\s+')))
              AS BIGINT) AS toks
          FROM documents GROUP BY source, lang),
        bs AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS sum_tokens,
                 count(*) AS n_langs
               FROM bl GROUP BY source),
        tot AS (SELECT CAST(sum(sum_tokens) AS BIGINT) AS all_tokens
                FROM bs),
        ent AS (SELECT bl.source,
                  sum(CAST(round(((n / CAST(n_docs AS DOUBLE))
                    * ln(n / CAST(n_docs AS DOUBLE)))
                    / -0.6931471805599453, 8)
                    AS DECIMAL(18,8))) AS ent_sum
                FROM bl JOIN bs ON bl.source = bs.source
                GROUP BY bl.source)
       SELECT bs.source, n_docs, n_langs, sum_tokens,
              round(sum_tokens / CAST(all_tokens AS DOUBLE), 4)
                AS token_share,
              round(CAST(ent_sum AS DOUBLE), 4) AS lang_entropy_bits
       FROM bs JOIN ent ON bs.source = ent.source, tot
       ORDER BY bs.source"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.sourceKl]]: same top-K
    * tie-break, same double-division and ln arithmetic, same 8-dp decimal term
    * sum. */
  def sourceKlOracle(topK: Int = 200): String =
    s"""WITH w AS (SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
           FROM documents),
        c AS (SELECT t, count(*) AS cw FROM w
              GROUP BY t ORDER BY cw DESC, t LIMIT $topK),
        nc AS (SELECT CAST(sum(cw) AS BIGINT) AS nc FROM c),
        s AS (SELECT source, w.t, count(*) AS cs, any_value(cw) AS cw
              FROM w JOIN c ON w.t = c.t GROUP BY source, w.t),
        ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns
               FROM s GROUP BY source)
       SELECT s.source, CAST(max(ns) AS BIGINT) AS n_topk_tokens,
         CAST(count(*) AS BIGINT) AS n_topk_words,
         round(CAST(sum(CAST(round((cs / CAST(ns AS DOUBLE))
             * ln((CAST(cs AS DOUBLE) * nc) / (CAST(ns AS DOUBLE) * cw)),
             8) AS DECIMAL(18,8))) AS DOUBLE), 4) AS kl4
       FROM s JOIN ns ON s.source = ns.source, nc
       GROUP BY s.source ORDER BY s.source"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.sourcePsi]]: same fixed
    * bins, same 8-dp decimal terms, same skipped-bin accounting. */
  def sourcePsiOracle(binWidth: Int = 256): String =
    s"""WITH cells AS (SELECT source, n_chars // $binWidth AS bin,
                         count(*) AS cs
                       FROM documents GROUP BY 1, 2),
        gb AS (SELECT bin, sum(cs) AS cg FROM cells GROUP BY 1),
        gt AS (SELECT sum(cs) AS n FROM cells),
        st AS (SELECT source, sum(cs) AS ns FROM cells GROUP BY 1),
        nb AS (SELECT count(*) AS n_bins FROM gb)
       SELECT c.source, CAST(max(st.ns) AS BIGINT) AS n_docs,
         count(*) AS n_bins_hit,
         CAST(max(nb.n_bins) - count(*) AS BIGINT) AS n_bins_skipped,
         round(CAST(sum(CAST(round(
             (c.cs / CAST(st.ns AS DOUBLE) - gb.cg / CAST(gt.n AS DOUBLE))
             * ln((CAST(c.cs AS DOUBLE) * gt.n)
               / (CAST(st.ns AS DOUBLE) * gb.cg)), 8)
           AS DECIMAL(18,8))) AS DOUBLE), 4) AS psi4,
         CAST(sum(CAST(round(
             (c.cs / CAST(st.ns AS DOUBLE) - gb.cg / CAST(gt.n AS DOUBLE))
             * ln((CAST(c.cs AS DOUBLE) * gt.n)
               / (CAST(st.ns AS DOUBLE) * gb.cg)), 8)
           AS DECIMAL(18,8))) AS DOUBLE) > 0.2 AS is_shifted
       FROM cells c
       JOIN gb ON gb.bin = c.bin
       JOIN st ON st.source = c.source, gt, nb
       GROUP BY c.source ORDER BY c.source"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.textNormalize]]
    * (chr(769)=U+0301 COMBINING ACUTE, chr(8491)=U+212B ANGSTROM SIGN,
    * chr(778)=U+030A COMBINING RING — DuckDB's nfc_normalize applies the same
    * UAX #15 tables as java.text.Normalizer). */
  val textNormalizeOracle: String =
    """WITH t AS (SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' unit ' || chr(8491)
                        ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' ring A' || chr(778)
                        ELSE '' END AS text
         FROM documents),
        n AS (SELECT doc_id, text,
           nfc_normalize(trim(regexp_replace(text, '\s+', ' ', 'g')))
             AS norm
         FROM t)
       SELECT doc_id,
         length(text) AS n_chars_raw,
         length(norm) AS n_chars_norm,
         norm <> text AS changed,
         sha256(norm) AS norm_sha
       FROM n ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.qualityFunnel]]: every
    * gate formula is the already-proven oracle fragment (text_stats, lang_id,
    * modal-word count), composed into the same first-fail attribution. */
  def qualityFunnelOracle(minWords: Int = 10, minQuality: Double = 0.5,
                          topWordMax: Double = 0.3): String =
    s"""WITH s AS (SELECT doc_id, lang,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_words,
            CAST(len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop,
            len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS c_zh,
            len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
            len(regexp_extract_all(lower(text),
              '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
            len(regexp_extract_all(lower(text),
              '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
            len(regexp_extract_all(lower(text),
              '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
          FROM documents),
        t AS (SELECT doc_id, max(c) AS top_c FROM (
                SELECT doc_id, w, count(*) AS c FROM (
                  SELECT doc_id,
                    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                  FROM documents)
                GROUP BY doc_id, w)
              GROUP BY doc_id),
        p AS (SELECT
            CASE WHEN NOT (n_words >= $minWords) THEN 1
                 WHEN NOT (round(least(n_words / 50.0, 1.0) * 0.5
                             + (n_stop / n_words) * 0.5, 4) >= $minQuality)
                   THEN 2
                 WHEN NOT (round(top_c / CAST(n_words AS DOUBLE), 4)
                             <= $topWordMax) THEN 3
                 WHEN NOT (($langCaseSql) = lang) THEN 4
                 ELSE 0 END AS ff
          FROM s JOIN t USING (doc_id)),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
                CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
                CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4
              FROM p)
       SELECT * FROM (
         SELECT 1 AS stage, 'min_length' AS gate, n AS n_in,
                r1 AS n_rejected, n - r1 AS n_out FROM a
         UNION ALL
         SELECT 2, 'quality', n - r1, r2, n - r1 - r2 FROM a
         UNION ALL
         SELECT 3, 'repetition', n - r1 - r2, r3, n - r1 - r2 - r3 FROM a
         UNION ALL
         SELECT 4, 'lang_match', n - r1 - r2 - r3, r4,
                n - r1 - r2 - r3 - r4 FROM a)
       ORDER BY stage"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.bpeEncode]]: the
    * [[bpeTrainOracle]] CTE chain learns the same rules, then every corpus word
    * is folded through them in order (rule k applied via a cross join of the
    * 1-row m_k). */
  def bpeEncodeOracle(nMerges: Int = 5, maxWords: Int = 2000): String =
    s"""${bpeEncodeCtes(nMerges, maxWords)}
       SELECT doc_id, count(*) AS n_words,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 4)
                AS compression
       FROM enc GROUP BY doc_id ORDER BY doc_id"""

  /** Shared WITH-block of [[bpeEncodeOracle]] and [[bpeFertilityOracle]]:
    * the [[bpeTrainOracle]] CTE chain, the 1-row sentinel rules, and the
    * per-word encode fold, ending at the `enc` CTE (doc_id, n_chars,
    * n_toks per corpus word). Both oracles compose this named helper so
    * neither needs to string-slice the other's final SELECT. */
  private def bpeEncodeCtes(nMerges: Int, maxWords: Int): String = {
    val trainCtes = bpeTrainOracle(nMerges, maxWords)
    // reuse the training chain up to (not including) the final SELECT;
    // fail loudly at oracle-REGISTRATION time (not with an opaque
    // StringIndexOutOfBounds) if bpeTrainOracle's tail is ever reworded
    val cteEnd = trainCtes.lastIndexOf("SELECT * FROM")
    require(cteEnd >= 0,
      "bpeTrainOracle no longer ends in 'SELECT * FROM ...' — " +
        "update bpeEncodeCtes' slice point to match")
    val withBlock = trainCtes.substring(0, cteEnd)
    // a vocab can learn FEWER than nMerges rules (tiny corpus: some m_k
    // is empty) — an empty m_k in the FROM list would annihilate enc
    // entirely while the engine happily encodes with the learned prefix
    // of rules. mm_k is therefore guaranteed 1 row: the rule, or a
    // chr(1) sentinel no [a-z]+ symbol can ever equal, which makes that
    // round's fold the identity — exactly "apply the learned prefix".
    val sentinels = (1 to nMerges).map { k =>
      s"""mm$k AS (SELECT coalesce(max(l), chr(1)) AS l,
                          coalesce(max(r), chr(1)) AS r FROM m$k)"""
    }.mkString(",\n        ")
    val fold = (1 to nMerges).foldLeft(
      "[word[i] for i in range(1, len(word) + 1)]") { (acc, k) =>
      s"""list_reduce(list_transform($acc, x -> [x]),
            (a, b) -> CASE WHEN a[-1] = mm$k.l AND b[1] = mm$k.r
              THEN list_concat(a[1:len(a) - 1], [mm$k.l || mm$k.r])
              ELSE list_concat(a, b) END)"""
    }
    val mJoins = (1 to nMerges).map(k => s"mm$k").mkString(", ")
    s"""${withBlock.trim},
        $sentinels,
        dw AS (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
               FROM documents),
        enc AS (SELECT doc_id, CAST(length(word) AS BIGINT) AS n_chars,
                  CAST(len($fold) AS BIGINT) AS n_toks
                FROM dw, $mJoins
                WHERE regexp_matches(word, '^[a-z]+$$'))"""
  }

  /** DuckDB oracle for [[graft.operators.TextAnalysis.bpeFertility]]: the
    * [[bpeEncodeOracle]] CTE chain (same learned rules, same per-word fold)
    * rolled up by the labeled language instead of per doc. */
  def bpeFertilityOracle(nMerges: Int = 5, maxWords: Int = 2000): String =
    s"""${bpeEncodeCtes(nMerges, maxWords)},
        perdoc AS (SELECT doc_id, count(*) AS n_words,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
             FROM enc GROUP BY doc_id)
       SELECT d.lang, count(*) AS n_docs,
              CAST(sum(p.n_words) AS BIGINT) AS n_words,
              CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
              CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
              round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words), 4)
                AS fertility,
              round(CAST(sum(p.n_chars) AS DOUBLE) / sum(p.n_tokens), 4)
                AS chars_per_token
       FROM perdoc p JOIN documents d USING (doc_id)
       GROUP BY d.lang ORDER BY d.lang"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.bpeTrain]]: word
    * frequencies, pair counts, argmax and the merge fold replayed round by
    * round (one CTE chain per round — the oracle may unroll what the engine
    * loops). */
  def bpeTrainOracle(nMerges: Int = 5, maxWords: Int = 2000): String = {
    val rounds = (1 to nMerges).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT pr[1] AS l, pr[2] AS r,
              CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                    unnest([[syms[i], syms[i + 1]]
                            for i in range(1, len(syms))]) AS pr
                  FROM $prev WHERE len(syms) >= 2)
            GROUP BY 1, 2),
          m$k AS (SELECT $k AS step, l, r, cnt FROM p$k
                  ORDER BY cnt DESC, l, r LIMIT 1),
          v$k AS (SELECT freq,
              list_reduce(list_transform(syms, x -> [x]),
                (a, b) -> CASE WHEN a[-1] = m.l AND b[1] = m.r
                  THEN list_concat(a[1:len(a) - 1], [m.l || m.r])
                  ELSE list_concat(a, b) END) AS syms
            FROM $prev, m$k m)"""
    }.mkString(",\n        ")
    val union = (1 to nMerges)
      .map(k => s"SELECT step, l AS left, r AS right, cnt AS pair_freq FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH v0 AS (
          SELECT CAST(count(*) AS BIGINT) AS freq,
                 [word[i] for i in range(1, len(word) + 1)] AS syms
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                  AS word
                FROM documents)
          WHERE regexp_matches(word, '^[a-z]+$$')
          GROUP BY word ORDER BY freq DESC, word LIMIT $maxWords),
        $rounds
       SELECT * FROM ($union) ORDER BY step"""
  }

  /** The DuckDB CTE chain replaying the unigram
    * [[graft.operators.TextAnalysis.encode]] for a GIVEN model: words split
    * identically, then the SAME integer Viterbi DP as a list_reduce fold with
    * the piece micro-nat scores inlined as one CASE. Ends at `$encName`
    * (doc_id, n_chars, n_toks). Shared by the encode and fertility oracles so
    * the two replays cannot drift. */
  private def unigramEncCte(lp: Map[String, Long], maxPieceLen: Int,
                            encName: String): String = {
    val caseArms = lp.toSeq.sortBy(_._1).map { case (p, v) =>
      s"WHEN '$p' THEN CAST($v AS BIGINT)"
    }.mkString(" ")
    val lpCase = (s: String) => s"(CASE $s $caseArms ELSE NULL END)"
    s"""${encName}_dw AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         FROM documents),
       $encName AS (SELECT doc_id,
           CAST(length(word) AS BIGINT) AS n_chars,
           (list_reduce(
              list_prepend(
                [{'s': CAST(0 AS BIGINT), 'c': CAST(0 AS BIGINT)}],
                [[{'s': CAST(i AS BIGINT), 'c': CAST(0 AS BIGINT)}]
                 for i in range(1, length(word) + 1)]),
              (a, x) -> list_append(a,
                list_transform([
                  list_reduce(
                    list_filter(
                      [{'s': a[j].s +
                          ${lpCase("word[j:CAST(x[1].s AS INTEGER)]")},
                        'c': a[j].c + 1, 'j': CAST(j AS BIGINT)}
                       for j in range(
                         greatest(1, CAST(x[1].s AS INTEGER)
                                     - $maxPieceLen + 1),
                         CAST(x[1].s AS INTEGER) + 1)],
                      cc -> cc.s IS NOT NULL),
                    (p, q) -> CASE WHEN q.s > p.s
                        OR (q.s = p.s AND (q.c < p.c
                        OR (q.c = p.c AND q.j < p.j)))
                      THEN q ELSE p END)],
                  b -> {'s': b.s, 'c': b.c})[1])
           ))[-1].c AS n_toks
         FROM ${encName}_dw
         WHERE regexp_matches(word, '^[a-z]+$$'))"""
  }

  /** DuckDB oracle for [[graft.operators.TextAnalysis.unigramEncode]]: trains
    * the SAME model (the deterministic driver-side trainer — the
    * ivfTrainedOracle stance) and replays the corpus encode exactly via
    * [[unigramEncCte]]. */
  def unigramTrainedOracle(vocabSize: Int = 120, maxPieceLen: Int = 4,
                           iters: Int = 2,
                           maxWords: Int = 2000): String = {
    val (spark, sfDir) = Oracle.input
    val lp = sharedUnigramLp(spark, sfDir, vocabSize, maxPieceLen, iters,
      maxWords)
    s"""WITH ${unigramEncCte(lp, maxPieceLen, "uenc")}
       SELECT doc_id, count(*) AS n_words,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 4)
                AS compression
       FROM uenc GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB oracle for [[graft.operators.TextAnalysis.tokenizerFertility]]: the
    * BPE replay ([[bpeEncodeCtes]]) and the unigram replay ([[unigramEncCte]])
    * rolled up by language, one UNION ALL branch per tokenizer. */
  def tokenizerFertilityOracle(nMerges: Int = 5, maxWords: Int = 2000,
                               vocabSize: Int = 120, maxPieceLen: Int = 4,
                               iters: Int = 2): String = {
    val (spark, sfDir) = Oracle.input
    val lp = sharedUnigramLp(spark, sfDir, vocabSize, maxPieceLen, iters,
      maxWords)
    def branch(encName: String, tok: String) =
      s"""SELECT d.lang, '$tok' AS tokenizer,
            count(*) AS n_docs,
            CAST(sum(p.n_words) AS BIGINT) AS n_words,
            CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
            CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
            round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words), 4)
              AS fertility,
            round(CAST(sum(p.n_chars) AS DOUBLE) / sum(p.n_tokens), 4)
              AS chars_per_token
          FROM (SELECT doc_id, count(*) AS n_words,
                  CAST(sum(n_chars) AS BIGINT) AS n_chars,
                  CAST(sum(n_toks) AS BIGINT) AS n_tokens
                FROM $encName GROUP BY doc_id) p
          JOIN documents d USING (doc_id)
          GROUP BY d.lang"""
    s"""${bpeEncodeCtes(nMerges, maxWords)},
        ${unigramEncCte(lp, maxPieceLen, "uenc")},
        skipped AS (
          SELECT lang,
            CAST(sum(CASE WHEN regexp_matches(word, '^[a-z]+$$')
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped_words
          FROM (SELECT lang,
                  unnest(string_split_regex(trim(lower(text)), '\\s+'))
                    AS word
                FROM documents)
          GROUP BY lang)
       SELECT t.*, s.n_skipped_words,
         round(CAST(s.n_skipped_words AS DOUBLE)
               / (s.n_skipped_words + t.n_words), 4) AS skipped_share
       FROM (${branch("enc", "bpe")}
             UNION ALL ${branch("uenc", "unigram")}) t
       JOIN skipped s USING (lang)
       ORDER BY lang, tokenizer"""
  }

  /** Named CTE chain of the per-doc character entropy (counts → folded
    * → ent) — composed by [[charEntropyOracle]] and the gate_agreement
    * oracle (no string surgery, the ADVICE-r9 stance). */
  val charEntropyCtes: String =
    """counts AS (
          SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
                FROM documents WHERE length(text) > 0)
          GROUP BY doc_id, ch),
        folded AS (
          SELECT doc_id,
            list_reduce(list(c * (ln(c) / ln(2)) ORDER BY ch), (a, b) -> a + b)
              AS acc,
            CAST(sum(c) AS DOUBLE) AS n
          FROM counts GROUP BY doc_id),
        ent AS (
          SELECT d.doc_id,
            round(CASE WHEN f.doc_id IS NULL THEN 0.0
                       ELSE ln(f.n) / ln(2) - f.acc / f.n END, 4)
              AS char_entropy,
            CAST(length(d.text) AS BIGINT) AS n_chars_calc
          FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id)"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.charEntropy]] — same
    * fold, same order, same ln-based log2 (see the operator scaladoc for the
    * bit-equality argument). */
  def charEntropyOracle(lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH $charEntropyCtes
       SELECT doc_id, char_entropy, n_chars_calc,
              char_entropy < $lo OR char_entropy > $hi AS flagged
       FROM ent ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.gateAgreement]]: the
    * text_stats quality arithmetic + the entropy CTE chain + the IDENTICAL κ
    * fragment. */
  def gateAgreementOracle(minWords: Int = 20, minQuality: Double = 0.3,
                          lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH $charEntropyCtes,
        q AS (SELECT doc_id,
                n_words >= $minWords AND
                round(least(n_words / 50.0, 1.0) * 0.5
                      + (n_stop / n_words) * 0.5, 4) >= $minQuality AS pass_q
              FROM (SELECT doc_id,
                      CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT) AS n_words,
                      CAST(len(regexp_extract_all(lower(text),
                        '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
                    FROM documents)),
        g AS (SELECT count(*) AS n,
                CAST(sum(CASE WHEN pass_q AND pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
                CAST(sum(CASE WHEN pass_q AND NOT pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
                CAST(sum(CASE WHEN NOT pass_q AND pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
                CAST(sum(CASE WHEN NOT pass_q AND NOT pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
              FROM q JOIN (SELECT doc_id,
                             NOT (char_entropy < $lo OR char_entropy > $hi)
                               AS pass_e
                           FROM ent) e USING (doc_id))
       SELECT ${kappaSelect.mkString(",\n         ")}
       FROM g"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.zipfFit]]: identical rank
    * tie-break and closed-form least squares (sums of ≤maxRank well-scaled
    * terms — 4-dp rounding absorbs summation-order ulps, the repo's standard
    * float-aggregate contract). */
  def zipfFitOracle(maxRank: Int = 500): String =
    s"""WITH w AS (
          SELECT source,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents),
        f AS (SELECT source, word, CAST(count(*) AS DOUBLE) AS freq
              FROM w WHERE word <> '' GROUP BY source, word),
        r AS (SELECT source, log10(row_number() OVER (PARTITION BY source
                 ORDER BY freq DESC, word)) AS x, log10(freq) AS y,
                row_number() OVER (PARTITION BY source
                 ORDER BY freq DESC, word) AS rank
              FROM f QUALIFY rank <= $maxRank)
       SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
         round((count(*) * sum(x*y) - sum(x) * sum(y))
           / nullif(count(*) * sum(x*x) - sum(x) * sum(x), 0.0), 4) AS slope,
         round(pow(count(*) * sum(x*y) - sum(x) * sum(y), 2)
           / nullif((count(*) * sum(x*x) - sum(x) * sum(x))
             * (count(*) * sum(y*y) - sum(y) * sum(y)), 0.0), 4) AS r2
       FROM r GROUP BY source ORDER BY source"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.corpusReport]] — same
    * per-doc features (the text_stats + char_entropy oracles' arithmetic), same
    * decimal means. */
  def corpusReportOracle(lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH counts AS (
          SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
                FROM documents WHERE length(text) > 0)
          GROUP BY doc_id, ch),
        folded AS (
          SELECT doc_id,
            list_reduce(list(c * (ln(c) / ln(2)) ORDER BY ch), (a, b) -> a + b)
              AS acc,
            CAST(sum(c) AS DOUBLE) AS n
          FROM counts GROUP BY doc_id),
        perdoc AS (
          SELECT d.lang, d.source,
            CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
              AS n_toks,
            round(least(len(string_split_regex(trim(d.text), '\\s+')) / 50.0,
                1.0) * 0.5
              + (len(regexp_extract_all(lower(d.text),
                  '\\b(?:the|and|is|of|to)\\b', 0))
                 / CAST(len(string_split_regex(trim(d.text), '\\s+'))
                        AS DOUBLE)) * 0.5, 4) AS q,
            round(CASE WHEN f.doc_id IS NULL THEN 0.0
                       ELSE ln(f.n) / ln(2) - f.acc / f.n END, 4) AS e
          FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id),
        tops AS (
          SELECT max(n) AS top_n FROM
            (SELECT count(*) AS n FROM perdoc GROUP BY source))
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         round(sum(n_toks) / CAST(count(*) AS DOUBLE), 4) AS mean_doc_tokens,
         round(CAST(sum(CAST(q AS DECIMAL(38,4))) AS DOUBLE) / count(*), 4)
           AS mean_quality,
         round(CAST(sum(CAST(e AS DECIMAL(38,4))) AS DOUBLE) / count(*), 4)
           AS mean_entropy,
         round(sum(CASE WHEN e < $lo OR e > $hi THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE), 4) AS entropy_flagged_frac,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         round((SELECT top_n FROM tops) / CAST(count(*) AS DOUBLE), 4)
           AS top_source_share
       FROM perdoc"""

  /** DuckDB oracle for [[graft.operators.TextAnalysis.langConfusion]] — the
    * lang_id oracle's CASE scoring rolled up into matrix cells. */
  def langConfusionOracle: String =
    s"""WITH scored AS (
          SELECT doc_id, lang, $langCaseSql AS pred_lang
          FROM (SELECT doc_id, lang,
                  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0))
                    AS c_zh,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
                FROM documents))
       SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n,
              round(count(*) / CAST(sum(count(*))
                OVER (PARTITION BY lang) AS DOUBLE), 4) AS label_share
       FROM scored GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""
}
