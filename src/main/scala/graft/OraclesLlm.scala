package graft

/** DuckDB oracle SQL for the LLM-data-pipeline queries (`graft.llm`).
  *
  * Everything hash-like is exact integer arithmetic (see
  * `graft.llm.TextFns`), so the oracle reproduces Spark bit-for-bit:
  *   - polynomial hash = `list_reduce` over char codes (no-init
  *     `list_reduce` seeds with the first element, which equals a 0-init
  *     fold for `acc*31+x`);
  *   - embedding quantization = `floor(x::DOUBLE * 8192)` — float→double
  *     and a power-of-two scale are exact, so both engines floor the
  *     same value;
  *   - `list_sum` returns HUGEINT → always cast `::BIGINT`;
  *     `bit_count` returns TINYINT → cast; Spark sizes are cast to long.
  *
  * Composition hazard: these strings are single-`stripMargin` only —
  * never interpolate one inside another `.stripMargin` block (a leading
  * `||` on a line would lose a `|`).
  */
object OraclesLlm {

  private val P = "1000000007"

  /** Guard for SQL fragments that get interpolated into a `.stripMargin`
    * template AFTER their own stripMargin ran: any line beginning with
    * whitespace + `|` (e.g. a leading `||` concat) would lose a `|` to
    * the outer stripMargin and silently change the SQL. Fails fast at
    * object init instead. */
  private def frag(s: String): String = {
    require(!s.linesIterator.exists(_.matches("""\s+\|.*""")),
      s"fragment line would be mangled by an outer stripMargin:\n$s")
    s
  }

  /** Whitespace tokens, empties dropped. The whitespace class is spelled
    * out because RE2 `\s` excludes vertical tab (U+000B) while Java's
    * includes it — same dodge as `[!-~]` for `\S` in the URL pattern. */
  private def toksE(x: String): String =
    s"list_filter(string_split_regex($x, '[ \\t\\n\\x0b\\f\\r]+'), w -> length(w) > 0)"

  /** Polynomial rolling hash of a (non-empty) string expr. */
  private def polyE(x: String): String =
    s"list_reduce([unicode(c)::BIGINT for c in string_split($x, '')], (acc, ch) -> (acc*31 + ch) % $P)"

  /** Distinct shingle-hash set (k=3) of a token-hash-list expr: the
    * polynomial combine of 3 consecutive token hashes (mirrors
    * `TextFns.shingleHashSet` — each char hashed once per doc). */
  private def shSetE(ths: String): String =
    s"""list_distinct(CASE WHEN len($ths) < 3 THEN []::BIGINT[]
       |  ELSE [list_reduce([$ths[i+1], $ths[i+2], $ths[i+3]],
       |          (acc, x) -> (acc*31 + x) % $P)
       |        for i in range(len($ths)-2)] END)""".stripMargin

  /** MinHash signature (16 hashes) of a shingle-hash-set expr. */
  private def sigE(sh: String): String =
    s"""[coalesce(list_min([((2654435761*(j+1)+104729) % $P * h +
       |    (97531*(j+1)+12345) % $P) % $P for h in $sh]), $P)
       |  for j in range(16)]""".stripMargin

  /** Quantized integer embedding. */
  private def quantE(e: String): String =
    s"[floor(x::DOUBLE * 8192)::BIGINT for x in $e]"

  /** Exact integer dot product of two quantized-list exprs, as DOUBLE. */
  private def dotE(a: String, b: String): String =
    s"list_sum([$a[i+1] * $b[i+1] for i in range(len($a))])::BIGINT::DOUBLE"

  private def normE(a: String): String =
    s"sqrt(list_sum([x*x for x in $a])::BIGINT::DOUBLE)"

  private def cosE(a: String, b: String): String =
    s"${dotE(a, b)} / (${normE(a)} * ${normE(b)})"

  /** Near-dup corpus: doc_id ≡ 0 (mod 10) re-inserted with a prepended
    * token under doc_id+100000. */
  private val nearDupCorpus: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, 'dup ' || text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  val tokenStats: String =
    s"""SELECT doc_id,
       |  len(${toksE("text")})::BIGINT AS n_ws_tokens,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]'))::BIGINT AS n_bpe_tokens,
       |  length(text)::BIGINT AS n_chars
       |FROM documents""".stripMargin

  val langId: String =
    s"""WITH c AS (
       |  SELECT doc_id, length(text) AS n,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is'))) AS en,
       |    len(list_filter(${toksE("text")}, w -> w IN ('el','la','los','de','que'))) AS es,
       |    len(list_filter(${toksE("text")}, w -> w IN ('der','die','und','das','ist'))) AS de,
       |    len(list_filter(${toksE("text")}, w -> w IN ('le','les','et','une','est'))) AS fr
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN cjk*10 > n*3 THEN 'zh'
       |       WHEN en+es+de+fr = 0 THEN 'und'
       |       WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       |       WHEN es >= de AND es >= fr THEN 'es'
       |       WHEN de >= fr THEN 'de'
       |       ELSE 'fr' END AS pred_lang
       |FROM c""".stripMargin

  /** Language-ID confusion matrix
    * ([[graft.llm.TextAnalysis.langConfusion]]): the langId replay
    * joined to the labeled column, counts + permille share per label. */
  val langConfusion: String =
    s"""WITH c AS (
       |  SELECT doc_id, lang AS label_lang, length(text) AS n,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is'))) AS en,
       |    len(list_filter(${toksE("text")}, w -> w IN ('el','la','los','de','que'))) AS es,
       |    len(list_filter(${toksE("text")}, w -> w IN ('der','die','und','das','ist'))) AS de,
       |    len(list_filter(${toksE("text")}, w -> w IN ('le','les','et','une','est'))) AS fr
       |  FROM documents),
       |p AS (
       |  SELECT label_lang,
       |    CASE WHEN cjk*10 > n*3 THEN 'zh'
       |         WHEN en+es+de+fr = 0 THEN 'und'
       |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       |         WHEN es >= de AND es >= fr THEN 'es'
       |         WHEN de >= fr THEN 'de'
       |         ELSE 'fr' END AS pred_lang
       |  FROM c),
       |m AS (SELECT label_lang, pred_lang, count(*)::BIGINT AS n_docs
       |      FROM p GROUP BY 1, 2),
       |t AS (SELECT label_lang, sum(n_docs) AS label_total FROM m GROUP BY 1)
       |SELECT m.label_lang, m.pred_lang, m.n_docs,
       |  ((1000 * m.n_docs) // t.label_total)::BIGINT AS share_pm
       |FROM m JOIN t USING (label_lang)""".stripMargin

  val qualityScore: String =
    s"""WITH s AS (
       |  SELECT doc_id, len(${toksE("text")})::BIGINT AS wc,
       |    len(list_distinct(${toksE("text")}))::BIGINT AS uniq,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |  FROM documents),
       |pm AS (
       |  SELECT doc_id, wc AS word_count,
       |    least(1000, wc * 20) AS length_pm,
       |    CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END AS unique_pm,
       |    CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END AS stop_pm
       |  FROM s)
       |SELECT doc_id, word_count, length_pm, unique_pm, stop_pm,
       |  (length_pm + unique_pm + stop_pm) // 3 AS quality
       |FROM pm""".stripMargin

  /** Gopher hard-gate rules ([[graft.llm.TextAnalysis.gopherRules]]):
    * every ratio as an integer cross-multiplication; '#'/'...'
    * removal via plain replace (replace-all on both engines,
    * non-overlapping left-to-right). */
  val gopherRules: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${toksE("text")} AS toks,
       |    string_split(text, chr(10)) AS lines,
       |    (length(text) - length(replace(text, '#', '')))::BIGINT
       |      AS n_hash,
       |    ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT
       |      AS n_ell
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, len(toks)::BIGINT AS wc,
       |    list_sum(list_transform(toks, w -> length(w)))::BIGINT AS sumlen,
       |    len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
       |      AS alpha_words,
       |    len(list_intersect(list_transform(toks, w -> lower(w)),
       |      ['the','be','to','of','and','that','have','with']))::BIGINT
       |      AS n_required,
       |    len(lines)::BIGINT AS n_lines,
       |    len(list_filter(lines, l -> starts_with(l, '-')
       |      OR starts_with(l, '*')))::BIGINT AS bullet_lines,
       |    len(list_filter(lines, l -> ends_with(l, '...')))::BIGINT
       |      AS ell_lines,
       |    n_hash, n_ell
       |  FROM s),
       |f AS (
       |  SELECT doc_id, wc,
       |    (CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)::BIGINT
       |      AS r_wordcount,
       |    (CASE WHEN 3 * wc <= sumlen AND sumlen <= 10 * wc
       |          THEN 1 ELSE 0 END)::BIGINT AS r_meanlen,
       |    (CASE WHEN 10 * (n_hash + n_ell) <= wc THEN 1 ELSE 0 END)::BIGINT
       |      AS r_symbol,
       |    (CASE WHEN 10 * bullet_lines <= n_lines THEN 1 ELSE 0 END)::BIGINT
       |      AS r_bullet,
       |    (CASE WHEN 10 * ell_lines <= 3 * n_lines
       |          THEN 1 ELSE 0 END)::BIGINT AS r_ellipsis,
       |    (CASE WHEN 5 * alpha_words >= 4 * wc THEN 1 ELSE 0 END)::BIGINT
       |      AS r_alpha,
       |    (CASE WHEN n_required >= 2 THEN 1 ELSE 0 END)::BIGINT
       |      AS r_required
       |  FROM c)
       |SELECT doc_id, wc, r_wordcount, r_meanlen, r_symbol, r_bullet,
       |  r_ellipsis, r_alpha, r_required,
       |  (r_wordcount * r_meanlen * r_symbol * r_bullet * r_ellipsis
       |    * r_alpha * r_required)::BIGINT AS gopher_keep
       |FROM f""".stripMargin

  /** Positional phrase search ([[graft.llm.Retrieval.phraseSearch]]
    * for "slow hash batch"): postings of the three phrase tokens
    * project to (doc_id, pos − offset) anchors; an anchor holding all
    * three offsets is a match. DuckDB positions are 1-based vs
    * Spark's 0-based — anchors shift uniformly, per-doc match counts
    * are identical. */
  val phraseSearch: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${toksE("text")} AS toks FROM documents),
       |post AS (
       |  SELECT doc_id, i AS pos, toks[i] AS token
       |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |  WHERE toks[i] IN ('slow', 'hash', 'batch')),
       |off(token, j) AS (
       |  VALUES ('slow', 0), ('hash', 1), ('batch', 2)),
       |m AS (
       |  SELECT doc_id, pos - j AS anchor, j FROM post JOIN off USING (token)),
       |a AS (
       |  SELECT doc_id, anchor, count(DISTINCT j) AS c FROM m
       |  GROUP BY doc_id, anchor)
       |SELECT doc_id, count(*)::BIGINT AS n_matches FROM a WHERE c = 3
       |GROUP BY doc_id""".stripMargin

  /** Embedding norm QC ([[graft.llm.Similarity.normStats]]): per
    * label, quantized squared-norm distribution (discrete lower
    * median) + degenerate count below 500‰ of the label median. */
  val embeddingNormStats: String =
    s"""WITH n AS (
       |  SELECT label::BIGINT AS label,
       |    list_sum([x*x for x in ${quantE("embedding")}])::BIGINT AS n2
       |  FROM embeddings),
       |med AS (
       |  SELECT label, quantile_disc(n2, 0.5) AS median_n2 FROM n
       |  GROUP BY label)
       |SELECT n.label, count(*)::BIGINT AS n_vecs,
       |  min(n2) AS min_n2, max(med.median_n2) AS median_n2,
       |  max(n2) AS max_n2,
       |  sum(CASE WHEN n2 * 1000 < med.median_n2 * 500 THEN 1 ELSE 0
       |    END)::BIGINT AS n_degenerate
       |FROM n JOIN med USING (label)
       |GROUP BY n.label""".stripMargin

  /** Curriculum ordering ([[graft.llm.Pipeline.curriculumShards]]):
    * the two-phase (histogram prefix + per-bucket rank) Spark plan is
    * exactly `row_number() OVER (ORDER BY quality DESC, doc_id)` —
    * the oracle states it that way. */
  val curriculumShards: String =
    s"""WITH q AS ($qualityScore)
       |SELECT doc_id, quality,
       |  row_number() OVER (ORDER BY quality DESC, doc_id)::BIGINT AS rank,
       |  ((row_number() OVER (ORDER BY quality DESC, doc_id) - 1) // 64)::BIGINT
       |    AS shard
       |FROM q""".stripMargin

  /** Shared CTE prefix for the classifier queries: quality-pseudo-
    * labeled docs (mirrors `TextAnalysis.qualityLabeled` at the
    * default threshold 470 — the same permille pipeline as
    * [[qualityScore]] with the token list kept). */
  private val qualityLabeledCte: String = frag(
    s"""WITH s AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS wc,
       |    len(list_distinct(toks))::BIGINT AS uniq,
       |    len(list_filter(toks, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents)),
       |lab AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN ((least(1000, wc * 20)
       |        + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END)
       |        + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END)) // 3) >= 470
       |      THEN 1 ELSE 0 END AS hq
       |  FROM s),
       |counts AS (
       |  SELECT token, sum(hq)::BIGINT AS cnt_pos, sum(1 - hq)::BIGINT AS cnt_neg
       |  FROM (SELECT hq, unnest(toks) AS token FROM lab) GROUP BY token),
       |tot AS (
       |  SELECT sum(cnt_pos)::BIGINT AS pos_total, sum(cnt_neg)::BIGINT AS neg_total,
       |         count(*)::BIGINT AS vocab
       |  FROM counts),
       |wt AS (
       |  SELECT token, cnt_pos, cnt_neg,
       |    ((1000000 * (cnt_pos + 1)) // (pos_total + vocab))
       |      - ((1000000 * (cnt_neg + 1)) // (neg_total + vocab)) AS weight_ppm
       |  FROM counts, tot)""".stripMargin)

  val classifierWeights: String =
    s"""$qualityLabeledCte
       |SELECT token, cnt_pos, cnt_neg, weight_ppm FROM wt""".stripMargin

  /** [[qualityLabeledCte]] extended to per-doc scores (mirrors
    * `Classifier.scoreDocs`): adds `sc(doc_id, heur_hq, n_tokens,
    * score_ppm)`. */
  private val classifierScoredCte: String = frag(
    s"""$qualityLabeledCte,
       |tok2 AS (
       |  SELECT doc_id, hq AS heur_hq,
       |    unnest(CASE WHEN len(toks) = 0 THEN [NULL]::VARCHAR[] ELSE toks END) AS token
       |  FROM lab),
       |sc AS (
       |  SELECT doc_id, heur_hq, count(token)::BIGINT AS n_tokens,
       |    coalesce(sum(wt.weight_ppm), 0)::BIGINT AS score_ppm
       |  FROM tok2 LEFT JOIN wt USING (token)
       |  GROUP BY doc_id, heur_hq)""".stripMargin)

  val classifierScore: String =
    s"""$classifierScoredCte
       |SELECT doc_id, n_tokens, score_ppm,
       |  (CASE WHEN score_ppm > 0 THEN 1 ELSE 0 END)::BIGINT AS pred_hq,
       |  heur_hq::BIGINT AS heur_hq
       |FROM sc""".stripMargin

  /** Decile lift over the scored docs ([[graft.llm.Classifier.lift]]):
    * ntile(10) on (score desc, doc_id), per-decile positive rate vs
    * the global rate in exact permille. */
  val classifierLift: String =
    s"""$classifierScoredCte,
       |b AS (
       |  SELECT doc_id, heur_hq::BIGINT AS hq,
       |    ntile(10) OVER (ORDER BY score_ppm DESC, doc_id)::BIGINT AS decile
       |  FROM sc),
       |per AS (
       |  SELECT decile, count(*)::BIGINT AS n_docs, sum(hq)::BIGINT AS n_pos
       |  FROM b GROUP BY decile),
       |lt AS (SELECT sum(n_docs)::BIGINT AS td, sum(n_pos)::BIGINT AS tp FROM per)
       |SELECT decile, n_docs, n_pos,
       |  ((1000 * n_pos) // n_docs)::BIGINT AS pos_rate_pm,
       |  CASE WHEN tp > 0
       |    THEN ((1000 * n_pos * td) // (n_docs * tp))::BIGINT END AS lift_pm
       |FROM per, lt""".stripMargin

  val classifierAuc: String =
    s"""$classifierScoredCte,
       |g AS (
       |  SELECT score_ppm, count(*)::BIGINT AS n, sum(heur_hq)::BIGINT AS np
       |  FROM sc GROUP BY score_ppm),
       |r AS (
       |  SELECT np, n,
       |    2 * (sum(n) OVER (ORDER BY score_ppm
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n + 1)
       |      + n - 1 AS r2
       |  FROM g),
       |a AS (
       |  SELECT sum(np * r2)::BIGINT AS s2, sum(np)::BIGINT AS n_pos,
       |         sum(n - np)::BIGINT AS n_neg
       |  FROM r)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos * n_neg = 0 THEN NULL
       |       ELSE (1000 * (s2 - n_pos * (n_pos + 1))) // (2 * n_pos * n_neg)
       |  END AS auc_pm
       |FROM a""".stripMargin

  val classifierPrCurve: String =
    s"""$classifierScoredCte,
       |cells AS (
       |  SELECT thr,
       |    sum(CASE WHEN score_ppm > thr AND heur_hq = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN score_ppm > thr AND heur_hq = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN score_ppm <= thr AND heur_hq = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
       |    sum(CASE WHEN score_ppm <= thr AND heur_hq = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
       |  FROM sc CROSS JOIN (
       |    SELECT unnest([-8000, -4000, -2000, -1000, 0, 1000, 2000, 4000, 8000]::BIGINT[]) AS thr)
       |  GROUP BY thr)
       |SELECT thr, tp, fp, fn, tn,
       |  CASE WHEN tp + fp = 0 THEN 0 ELSE (1000 * tp) // (tp + fp) END AS precision_pm,
       |  CASE WHEN tp + fn = 0 THEN 0 ELSE (1000 * tp) // (tp + fn) END AS recall_pm
       |FROM cells""".stripMargin

  val bm25TopK: String =
    s"""WITH staged AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS dl
       |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents)),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         (1000 * sum(dl)::BIGINT) // count(*) AS avgdl_pm
       |  FROM staged),
       |m AS (
       |  SELECT doc_id, dl, token, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM staged)
       |  WHERE token IN ('spark', 'vector', 'stream')
       |  GROUP BY doc_id, dl, token),
       |dft AS (SELECT token, count(*)::BIGINT AS df FROM m GROUP BY token),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_terms,
       |    sum((2200 * tf * least(10000000, (1000 * (n_docs - df + 1)) // (df + 1)))
       |        // (1000 * tf + 300 + (9 * ((1000000 * dl) // avgdl_pm)) // 10))::BIGINT
       |      AS score_pm
       |  FROM m JOIN dft USING (token), stats
       |  GROUP BY doc_id)
       |SELECT doc_id, n_terms, score_pm, rank::BIGINT AS rank FROM (
       |  SELECT doc_id, n_terms, score_pm,
       |         row_number() OVER (ORDER BY score_pm DESC, doc_id) AS rank
       |  FROM sc)
       |WHERE rank <= 10""".stripMargin

  /** Shared CTEs of the BM25 lexical scorer at a parameterized pool
    * size — the same arithmetic as [[bm25TopK]], ending in a `lex`
    * rank table. */
  private def lexPoolCtes(poolK: Int): String =
    frag(s"""staged AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS dl
       |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents)),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         (1000 * sum(dl)::BIGINT) // count(*) AS avgdl_pm
       |  FROM staged),
       |m AS (
       |  SELECT doc_id, dl, token, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM staged)
       |  WHERE token IN ('spark', 'vector', 'stream')
       |  GROUP BY doc_id, dl, token),
       |dft AS (SELECT token, count(*)::BIGINT AS df FROM m GROUP BY token),
       |sc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_terms,
       |    sum((2200 * tf * least(10000000, (1000 * (n_docs - df + 1)) // (df + 1)))
       |        // (1000 * tf + 300 + (9 * ((1000000 * dl) // avgdl_pm)) // 10))::BIGINT
       |      AS score_pm
       |  FROM m JOIN dft USING (token), stats
       |  GROUP BY doc_id),
       |lex AS (
       |  SELECT doc_id, rank::BIGINT AS lex_rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score_pm DESC, doc_id) AS rank
       |    FROM sc)
       |  WHERE rank <= $poolK)""".stripMargin)

  /** Shared CTEs of the semantic (hash-vectorized cosine) scorer at a
    * parameterized pool size — query vector from the literal terms,
    * corpus vectors as in [[docSimTopK]] — ending in a `sem` rank
    * table with the underlying `semsc` cosines. */
  private def semPoolCtes(poolK: Int): String =
    frag(s"""qth AS (
       |  SELECT [${polyE("w")} for w in ['spark', 'vector', 'stream']] AS ths),
       |qvq AS (
       |  SELECT [len(list_filter(ths, h -> h % 64 = d))::BIGINT
       |          for d in range(64)] AS qv
       |  FROM qth),
       |cth AS (
       |  SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths
       |  FROM documents),
       |cvv AS (
       |  SELECT doc_id, [len(list_filter(ths, h -> h % 64 = d))::BIGINT
       |          for d in range(64)] AS cv
       |  FROM cth WHERE len(ths) > 0),
       |semsc AS (SELECT doc_id, ${cosE("cv", "qv")} AS cos FROM cvv, qvq),
       |sem AS (
       |  SELECT doc_id, cos, rank::BIGINT AS sem_rank FROM (
       |    SELECT doc_id, cos, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
       |    FROM semsc)
       |  WHERE rank <= $poolK)""".stripMargin)

  /** Query-side semantic top-k ([[graft.llm.Retrieval.semanticTopK]]). */
  val semanticTopK: String =
    s"""WITH ${semPoolCtes(10)}
       |SELECT doc_id, round(cos, 6) AS score, sem_rank AS rank FROM sem""".stripMargin

  /** Reciprocal-rank fusion of the two 20-deep pools
    * ([[graft.llm.Retrieval.hybridTopK]], K = 60, micro-units). */
  val hybridRrfTopK: String =
    s"""WITH ${lexPoolCtes(20)},
       |${semPoolCtes(20)},
       |fused AS (
       |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
       |    (coalesce(1000000 // (60 + l.lex_rank), 0)
       |     + coalesce(1000000 // (60 + s.sem_rank), 0))::BIGINT AS rrf_micro
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, rrf_micro, rank::BIGINT AS rank FROM (
       |  SELECT doc_id, lex_rank, sem_rank, rrf_micro,
       |    row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= 10""".stripMargin

  val docFingerprint: String =
    s"""SELECT doc_id,
       |  CASE WHEN length(n) = 0 THEN 0::BIGINT ELSE ${polyE("n")} END AS fp
       |FROM (SELECT doc_id,
       |        trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS n
       |      FROM documents)""".stripMargin

  /** Unicode-canonicalization corpus audit
    * ([[graft.llm.TextAnalysis.unicodeNormStats]]): chr(769) is the
    * combining acute, chr(776) the combining diaeresis — the same
    * decomposed decoration the engine injects; `nfc_normalize` /
    * `strip_accents` replay the native expressions (semantics pinned
    * empirically in UnicodeNormSpec, incl. the NFD→drop-marks→NFC
    * recomposition pipeline strip_accents runs). Both engines count
    * CODE POINTS in length(), which sum_dec_chars pins as data. */
  val unicodeNormStats: String =
    s"""WITH d AS (
       |  SELECT text,
       |    replace(replace(text, 'e', 'e' || chr(769)),
       |            'o', 'o' || chr(776)) AS dec
       |  FROM documents)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(length(text))::BIGINT AS sum_raw_chars,
       |  sum(length(dec))::BIGINT AS sum_dec_chars,
       |  sum(length(nfc_normalize(dec)))::BIGINT AS sum_nfc_chars,
       |  sum(CASE WHEN nfc_normalize(dec) <> dec THEN 1 ELSE 0 END)::BIGINT
       |    AS n_noncanonical,
       |  sum(CASE WHEN strip_accents(dec) = text THEN 1 ELSE 0 END)::BIGINT
       |    AS n_fold_roundtrip
       |FROM d""".stripMargin

  val ngramCounts: String =
    s"""WITH t AS (SELECT ${toksE("text")} AS toks FROM documents),
       |g AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |        ELSE [toks[i+1] || ' ' || toks[i+2] for i in range(len(toks)-1)] END) AS ngram
       |      FROM t)
       |SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram""".stripMargin

  /** Approx distinct n-grams ([[graft.llm.TextAnalysis
    * .approxDistinctNgrams]]): oracle recounts the exact side and
    * pins the sketch's error verdict at 1; the estimate itself never
    * crosses engines. */
  val approxDistinctNgrams: String =
    s"""WITH t AS (SELECT ${toksE("text")} AS toks FROM documents),
       |g AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |        ELSE [toks[i+1] || ' ' || toks[i+2] for i in range(len(toks)-1)] END) AS ngram
       |      FROM t)
       |SELECT count(DISTINCT ngram)::BIGINT AS exact_distinct,
       |  1::BIGINT AS est_ok
       |FROM g""".stripMargin

  /** Approx token quantiles ([[graft.llm.TextAnalysis
    * .tokenQuantilesApprox]]): exact total + rank-window verdicts
    * pinned at 1; sketch values never cross engines. */
  val tokenQuantilesApprox: String =
    s"""WITH t AS (SELECT len(${toksE("text")}) AS n FROM documents)
       |SELECT q_pm::BIGINT AS q_pm,
       |  (SELECT count(*) FROM t)::BIGINT AS n_total,
       |  1::BIGINT AS rank_ok
       |FROM (SELECT unnest([250, 500, 750]) AS q_pm)""".stripMargin

  val dedupDocs: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
       |SELECT sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS content_key,
       |  min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1""".stripMargin

  /** Per-source exact-dup attribution over the dup-injected corpus. */
  val dedupRateBySource: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0),
       |k AS (
       |  SELECT doc_id, source,
       |    sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS ck
       |  FROM corpus),
       |m AS (SELECT ck, min(doc_id) AS keep_id FROM k GROUP BY ck)
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  (1000 * sum(CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END)::BIGINT)
       |    // count(*) AS drop_pm
       |FROM k JOIN m USING (ck) GROUP BY source""".stripMargin

  /** Crawl-overlap matrix over the mirror-injected corpus. */
  val crossSourceOverlap: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents UNION ALL
       |  SELECT doc_id + 200000, 'mirror' AS source, text
       |  FROM documents WHERE doc_id % 10 = 0),
       |ks AS (
       |  SELECT DISTINCT source,
       |    sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS ck
       |  FROM corpus)
       |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |FROM ks a JOIN ks b ON a.ck = b.ck AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Shared CTE chain: near-dup corpus → shingle sets → signatures →
    * LSH bands → candidate pairs → exact Jaccard sizes (`scored`). */
  private val minhashCtes: String = minhashCtesOver(nearDupCorpus)

  /** The same CTE chain over any `corpus AS (...)` definition. */
  private def minhashCtesOver(corpusCte: String): String =
    s"""$corpusCte,
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sets AS (SELECT doc_id, sh FROM
       |  (SELECT doc_id, ${shSetE("ths")} AS sh FROM th) WHERE len(sh) > 0),
       |sigs AS (SELECT doc_id, ${sigE("sh")} AS sig FROM sets),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    list_reduce([sig[4*b + r + 1] for r in range(4)],
       |      (acc, x) -> (acc*31 + x) % $P) AS band_key
       |  FROM sigs, range(4) t(b)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(s1.sh, s2.sh))::BIGINT AS inter_size,
       |    len(list_distinct(s1.sh || s2.sh))::BIGINT AS union_size
       |  FROM cands
       |  JOIN sets s1 ON s1.doc_id = doc_a
       |  JOIN sets s2 ON s2.doc_id = doc_b)""".stripMargin

  val minhashDedup: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, inter_size, union_size
       |FROM scored WHERE inter_size * 1000 >= union_size * 800""".stripMargin

  /** The shingle-set chain alone (corpus → token hashes → distinct
    * shingle sets) over the near-dup corpus — shared by the exact
    * set-similarity join oracles, which need sets but not bands. */
  private val shingleSetsCtes: String =
    s"""$nearDupCorpus,
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sets AS (SELECT doc_id, sh FROM
       |  (SELECT doc_id, ${shSetE("ths")} AS sh FROM th) WHERE len(sh) > 0),
       |s2 AS (SELECT doc_id, sh, len(sh) AS sz FROM sets)""".stripMargin

  /** BRUTE-FORCE all-pairs shingle Jaccard
    * ([[graft.llm.SetSimJoin.ssjoinExact]]): the completeness proof
    * for the engine's prefix-filtered join — the oracle enumerates
    * every pair, so any qualifying pair the prefix filter missed
    * (or any extra pair it emitted) hash-mismatches. Quadratic is
    * FINE here: that is what makes it an oracle, not an engine. */
  val ssjoinExact: String =
    s"""WITH $shingleSetsCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  len(list_intersect(a.sh, b.sh))::BIGINT AS inter_size,
       |  (a.sz + b.sz - len(list_intersect(a.sh, b.sh)))::BIGINT AS union_size,
       |  (1000 * len(list_intersect(a.sh, b.sh)))
       |    // (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) AS jaccard_pm
       |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.sh, b.sh)) * 1000 >=
       |  (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) * 800""".stripMargin

  /** LSH recall audit ([[graft.llm.SetSimJoin.dedupRecallAudit]]):
    * exact qualifying pairs (brute force — the oracle's privilege)
    * left-joined to the banded-and-verified pair set; the banded set
    * is a subset of the exact one (verification re-checks true
    * Jaccard), so the groups are hits (1) and S-curve misses (0). */
  val dedupRecallAudit: String =
    s"""WITH $minhashCtes,
       |lsh AS (SELECT DISTINCT doc_a, doc_b FROM scored
       |        WHERE inter_size * 1000 >= union_size * 800),
       |ex AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) * 1000 >=
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800)
       |SELECT (CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)::INT
       |    AS in_lsh,
       |  count(*)::BIGINT AS n_pairs
       |FROM ex LEFT JOIN lsh l
       |  ON ex.doc_a = l.doc_a AND ex.doc_b = l.doc_b
       |GROUP BY 1""".stripMargin

  /** Prefix-filter selectivity twin
    * ([[graft.llm.SetSimJoin.ssjoinPrefixStats]]): rebuilds the
    * ENGINE'S candidate generation — (df ASC, hash ASC) global order
    * via `list(... ORDER BY ...)`, integer-ceil prefix length,
    * inverted-index join + length filter — so the candidate count
    * pins the prefix logic itself cross-engine, not just the final
    * verified pairs. */
  val ssjoinPrefixStats: String =
    s"""WITH $shingleSetsCtes,
       |tk AS (SELECT doc_id, sz, unnest(sh) AS h FROM s2),
       |df AS (SELECT h, count(*) AS df FROM tk GROUP BY h),
       |ord AS (SELECT t.doc_id, t.sz, list(t.h ORDER BY d.df, t.h) AS ord
       |        FROM tk t JOIN df d ON t.h = d.h GROUP BY t.doc_id, t.sz),
       |pref AS (SELECT doc_id, sz,
       |    unnest(list_slice(ord, 1, sz - ((sz * 800 + 999) // 1000) + 1)) AS h
       |  FROM ord),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pref a JOIN pref b ON a.h = b.h
       |         WHERE a.doc_id < b.doc_id
       |           AND a.sz * 1000 >= b.sz * 800 AND b.sz * 1000 >= a.sz * 800),
       |ver AS (SELECT c.doc_a, c.doc_b
       |        FROM cand c
       |        JOIN s2 a ON c.doc_a = a.doc_id
       |        JOIN s2 b ON c.doc_b = b.doc_id
       |        WHERE len(list_intersect(a.sh, b.sh)) * 1000 >=
       |          (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) * 800)
       |SELECT 'n_docs' AS metric, count(*)::BIGINT AS value FROM s2
       |UNION ALL SELECT 'n_prefix_postings', count(*)::BIGINT FROM pref
       |UNION ALL SELECT 'n_candidate_pairs', count(*)::BIGINT FROM cand
       |UNION ALL SELECT 'n_pairs', count(*)::BIGINT FROM ver""".stripMargin

  /** Interpolated Kneser-Ney bigram surprisal
    * ([[graft.llm.LangModel.knSurprisal]] over the doc_id-parity
    * split): same count tables as the backoff oracle plus the two
    * continuation-diversity tables and the bigram-type total; every
    * probability is the exact Long rational from the scaladoc
    * (numerators ≤ 7·max(c1)·T, inside the engine's asserted domain,
    * so DuckDB's overflow-raising BIGINT arithmetic is congruent). */
  val knSurprisal: String =
    s"""WITH tr AS (
       |  SELECT ${toksE("text")} AS toks FROM documents WHERE doc_id % 2 = 0),
       |scd AS (
       |  SELECT doc_id, ${toksE("text")} AS toks FROM documents
       |  WHERE doc_id % 2 = 1),
       |trt AS (SELECT unnest(toks) AS token FROM tr),
       |uni AS (SELECT token, count(*)::BIGINT AS c1 FROM trt GROUP BY token),
       |trb AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*)::BIGINT AS c2
       |  FROM tr, unnest(range(1, len(toks))) AS u(i) GROUP BY 1, 2),
       |na AS (SELECT w1, count(*)::BIGINT AS n1a FROM trb GROUP BY w1),
       |nb AS (SELECT w2, count(*)::BIGINT AS n1b FROM trb GROUP BY w2),
       |tt AS (SELECT count(*)::BIGINT AS t FROM trb),
       |scb AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2,
       |         count(*)::BIGINT AS tf
       |  FROM scd, unnest(range(1, len(toks))) AS u(i) GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT s.doc_id, s.tf,
       |    (length(printf('%b',
       |      CASE
       |        WHEN trb.c2 IS NOT NULL THEN
       |          (4 * u1.c1 * tt.t)
       |            // ((4 * trb.c2 - 3) * tt.t + 3 * na.n1a * coalesce(nb.n1b, 1))
       |        WHEN na.n1a IS NOT NULL THEN
       |          (4 * u1.c1 * tt.t) // (3 * na.n1a * coalesce(nb.n1b, 1))
       |        ELSE tt.t // coalesce(nb.n1b, 1)
       |      END)) - 1)::BIGINT AS bits,
       |    CASE WHEN trb.c2 IS NULL THEN s.tf ELSE 0 END AS bk,
       |    CASE WHEN nb.n1b IS NULL THEN s.tf ELSE 0 END AS ov
       |  FROM scb s
       |  LEFT JOIN trb ON s.w1 = trb.w1 AND s.w2 = trb.w2
       |  LEFT JOIN na ON s.w1 = na.w1
       |  LEFT JOIN uni u1 ON s.w1 = u1.token
       |  LEFT JOIN nb ON s.w2 = nb.w2
       |  CROSS JOIN tt)
       |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |  sum(tf * bits)::BIGINT AS total_bits,
       |  sum(bk)::BIGINT AS n_backoff, sum(ov)::BIGINT AS n_oov,
       |  ((1000 * sum(tf * bits)) // sum(tf))::BIGINT AS millibits_per_bigram,
       |  CASE WHEN (1000 * sum(tf * bits)) // sum(tf) <= 4500
       |    THEN 1 ELSE 0 END::BIGINT AS kept
       |FROM j GROUP BY doc_id""".stripMargin

  /** KN continuation-diversity report
    * ([[graft.llm.LangModel.knContinuation]]): per-token occurrence
    * count vs distinct-left-context count over the FULL corpus, top
    * 100 by occurrence, ties on the token. */
  val knContinuation: String =
    s"""WITH t AS (SELECT ${toksE("text")} AS toks FROM documents),
       |uni AS (
       |  SELECT token, count(*)::BIGINT AS c1
       |  FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
       |bi AS (
       |  SELECT DISTINCT toks[i] AS w1, toks[i+1] AS w2
       |  FROM t, unnest(range(1, len(toks))) AS u(i)),
       |nb AS (SELECT w2, count(*)::BIGINT AS n1b FROM bi GROUP BY w2),
       |tt AS (SELECT count(*)::BIGINT AS t FROM bi)
       |SELECT token, c1, coalesce(nb.n1b, 0)::BIGINT AS n1b,
       |  ((1000 * coalesce(nb.n1b, 0)) // tt.t)::BIGINT AS p_cont_pm
       |FROM uni LEFT JOIN nb ON uni.token = nb.w2 CROSS JOIN tt
       |ORDER BY c1 DESC, token LIMIT 100""".stripMargin

  /** Length/quality document skyline
    * ([[graft.ops.Skyline.paretoDocs]]): the BRUTE-FORCE dominance
    * anti-join over the same integer quality attributes — quadratic
    * on purpose: enumerating every candidate dominator is the
    * completeness proof for the engine's range-partitioned prefix
    * scan (any frontier row the engine wrongly kept or dropped
    * hash-mismatches). */
  val paretoDocs: String =
    s"""WITH s AS (
       |  SELECT doc_id, len(${toksE("text")})::BIGINT AS wc,
       |    len(list_distinct(${toksE("text")}))::BIGINT AS uniq,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, wc AS word_count,
       |    (least(1000, wc * 20)
       |     + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END)
       |     + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END)) // 3
       |      AS quality
       |  FROM s)
       |SELECT a.doc_id, a.word_count, a.quality
       |FROM q a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM q b
       |  WHERE b.word_count >= a.word_count AND b.quality >= a.quality
       |    AND (b.word_count > a.word_count OR b.quality > a.quality))""".stripMargin

  /** Degree histogram over the verified pair graph
    * ([[graft.llm.Dedup.dupDegrees]]): same band chain, endpoints
    * unioned, two rollups. */
  val dupDegrees: String =
    s"""WITH $minhashCtes,
       |p AS (SELECT doc_a, doc_b FROM scored
       |      WHERE inter_size * 1000 >= union_size * 800),
       |e AS (SELECT doc_a AS doc_id FROM p
       |      UNION ALL SELECT doc_b FROM p),
       |d AS (SELECT doc_id, count(*)::BIGINT AS degree
       |      FROM e GROUP BY doc_id)
       |SELECT degree, count(*)::BIGINT AS n_docs
       |FROM d GROUP BY degree""".stripMargin

  /** Boilerplate-injected corpus + stride-1 window hashes shared by the
    * substring-dedup oracles (mirrors [[graft.llm.Dedup.withBoilerplate]]
    * and [[graft.llm.Dedup.windowHashRows]] — seed-with-first polynomial
    * combine over each 8-token window, 1-based positions). */
  private val spanCtes: String =
    s"""base AS (
       |  SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN text ||
       |    ' standard footer boilerplate notice appended to every' ||
       |    ' seventh document for compliance review purposes under' ||
       |    ' policy nine' ELSE text END AS text FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM base UNION ALL
       |  SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0),
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |w0 AS (
       |  SELECT doc_id,
       |    [{'pos': i + 1,
       |      'whash': list_reduce(ths[i+1:i+8], (acc, x) -> (acc*31 + x) % $P)}
       |     for i in range(len(ths) - 7)] AS ws
       |  FROM th WHERE len(ths) >= 8),
       |w AS (SELECT doc_id, u.pos AS pos, u.whash AS whash
       |      FROM (SELECT doc_id, unnest(ws) AS u FROM w0)),
       |rep AS (SELECT whash FROM
       |  (SELECT whash, count(DISTINCT doc_id) AS nd FROM w GROUP BY whash)
       |  WHERE nd >= 2),
       |hits AS (SELECT doc_id, pos FROM w JOIN rep USING (whash)),
       |flag AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER bd IS NULL
       |        OR pos > lag(pos) OVER bd + 8 THEN 1 ELSE 0 END AS ns
       |  FROM hits WINDOW bd AS (PARTITION BY doc_id ORDER BY pos)),
       |sp AS (SELECT doc_id, pos, sum(ns) OVER
       |  (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM flag),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
       |  FROM sp GROUP BY doc_id, span_id)""".stripMargin

  /** GPT-3-style 13-gram decontamination
    * ([[graft.llm.Dedup.ngramDecontamination]]): the same seed-with-
    * first polynomial window hash as the span oracles, k = 13, over
    * the leak-injected corpus; training windows joined to the DISTINCT
    * eval window set. */
  val ngramDecontamination: String =
    s"""WITH base AS (
       |  SELECT doc_id, CASE WHEN doc_id % 100 = 7 OR doc_id % 11 = 5
       |    THEN text || ' canary benchmark passage held out for' ||
       |      ' evaluation integrity audit number forty two of the' ||
       |      ' held out suite'
       |    ELSE text END AS text FROM documents),
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM base),
       |w0 AS (
       |  SELECT doc_id,
       |    [{'pos': i + 1,
       |      'whash': list_reduce(ths[i+1:i+13], (acc, x) -> (acc*31 + x) % $P)}
       |     for i in range(len(ths) - 12)] AS ws
       |  FROM th WHERE len(ths) >= 13),
       |w AS (SELECT doc_id, u.pos AS pos, u.whash AS whash
       |      FROM (SELECT doc_id, unnest(ws) AS u FROM w0)),
       |ev AS (SELECT DISTINCT whash, doc_id AS eval_id FROM w
       |       WHERE doc_id % 100 = 7),
       |tr AS (SELECT doc_id, pos, whash FROM w WHERE doc_id % 100 <> 7)
       |SELECT tr.doc_id, count(DISTINCT tr.pos)::BIGINT AS n_dirty_windows,
       |  count(DISTINCT ev.eval_id)::BIGINT AS n_eval_docs
       |FROM tr JOIN ev USING (whash)
       |GROUP BY tr.doc_id""".stripMargin

  /** Per-source quality calibration
    * ([[graft.llm.Pipeline.qualityCalibration]]): the quality replay
    * plus RANK within source — `rank()-1` is exactly the engine's
    * strictly-lower histogram prefix, so ties share a value and the
    * single-partition window the oracle uses states the math the
    * engine's broadcast histogram distributes. */
  val qualityCalibration: String =
    s"""WITH s AS (
       |  SELECT doc_id, source, len(${toksE("text")})::BIGINT AS wc,
       |    len(list_distinct(${toksE("text")}))::BIGINT AS uniq,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source,
       |    ((least(1000, wc * 20)
       |      + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END)
       |      + (CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END)) // 3)
       |      AS quality
       |  FROM s),
       |r AS (
       |  SELECT doc_id, source, quality,
       |    rank() OVER (PARTITION BY source ORDER BY quality) AS rnk,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM q)
       |SELECT doc_id, source, quality::BIGINT AS quality,
       |  (CASE WHEN cnt > 1 THEN (1000 * (rnk - 1)) // (cnt - 1)
       |        ELSE 0 END)::BIGINT AS calib_pm
       |FROM r""".stripMargin

  /** Maximal repeated ≥8-token spans
    * ([[graft.llm.Dedup.repeatedSpans]]): windows whose hash occurs in
    * ≥2 distinct docs, merged per doc by island detection. */
  val repeatedSpans: String =
    s"""WITH $spanCtes
       |SELECT doc_id, span_start, span_end FROM spans""".stripMargin

  /** Per-doc repeated-token coverage in permille
    * ([[graft.llm.Dedup.repeatedTokenFraction]] — the Lee et al. 2022
    * curation signal; zero for span-free and sub-window docs). */
  val repeatedTokenFraction: String =
    s"""WITH $spanCtes,
       |cov AS (SELECT doc_id,
       |  (sum(span_end - span_start + 1))::BIGINT AS covered
       |  FROM spans GROUP BY doc_id)
       |SELECT c.doc_id,
       |  len(${toksE("c.text")})::BIGINT AS n_tokens,
       |  ((coalesce(v.covered, 0) * 1000) //
       |    greatest(len(${toksE("c.text")}), 1))::BIGINT AS repeated_pm
       |FROM corpus c LEFT JOIN cov v USING (doc_id)""".stripMargin

  /** Span-excised text ([[graft.llm.Dedup.stripRepeatedSpans]]):
    * tokens inside any repeated span drop, survivors rejoin with
    * single spaces (the module's whitespace normalization). DuckDB's
    * list_filter index is 1-based, matching the span positions
    * directly. */
  val stripRepeatedSpans: String =
    s"""WITH $spanCtes,
       |sb AS (SELECT doc_id,
       |  list(struct_pack(s := span_start, e := span_end)) AS sps
       |  FROM spans GROUP BY doc_id)
       |SELECT c.doc_id,
       |  coalesce(array_to_string(
       |    CASE WHEN v.sps IS NULL THEN ${toksE("c.text")}
       |    ELSE list_filter(${toksE("c.text")}, (t, i) ->
       |      len(list_filter(v.sps, p -> i >= p.s AND i <= p.e)) = 0)
       |    END, ' '), '') AS clean_text,
       |  (len(${toksE("c.text")}) - CASE WHEN v.sps IS NULL
       |    THEN len(${toksE("c.text")})
       |    ELSE len(list_filter(${toksE("c.text")}, (t, i) ->
       |      len(list_filter(v.sps, p -> i >= p.s AND i <= p.e)) = 0))
       |    END)::BIGINT AS removed_tokens
       |FROM corpus c LEFT JOIN sb v USING (doc_id)""".stripMargin

  /** Stored-index near-dup probe ([[graft.llm.LshIndex.queryGen]]
    * after `buildGen`): the cross-batch slice of the minhash pair set — stored
    * (base-corpus) doc on the left, injected-batch doc on the right.
    * Per-pair candidate generation and verification make this slice
    * independent of whether the rest of the corpus was banded in the
    * same pass, which is exactly the incremental-index contract. */
  val lshIndexQuery: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, inter_size, union_size
       |FROM scored
       |WHERE inter_size * 1000 >= union_size * 800
       |  AND doc_a < 100000 AND doc_b >= 100000""".stripMargin

  /** [[lshIndexQuery]] after deleting stored docs ≡ 0 (mod 20)
    * ([[graft.llm.LshIndex.delete]] / [[graft.llm.LshIndex
    * .purgeDeleted]] — logical and physical paths answer identically,
    * so both registry queries share this oracle): tombstoned stored
    * partners simply stop matching. */
  val lshDeleteQuery: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, inter_size, union_size
       |FROM scored
       |WHERE inter_size * 1000 >= union_size * 800
       |  AND doc_a < 100000 AND doc_b >= 100000
       |  AND doc_a % 20 <> 0""".stripMargin

  /** Kept side of the stored-index history gate
    * ([[graft.llm.LshIndex.gateGen]], the per-micro-batch check
    * [[graft.streaming.DocStream.ingestGen]] runs): batch docs (ids ≥
    * 100000) with NO verified ≥0.8-Jaccard partner in the stored base
    * corpus. The +300000 rows keep only their first two tokens —
    * below shingle size, so they have no defined n-gram Jaccard and
    * must pass vacuously. */
  val lshHistoryGate: String = {
    val gateCorpus =
      s"""corpus AS (
         |  SELECT doc_id, text FROM documents UNION ALL
         |  SELECT doc_id + 100000, 'dup ' || text
         |  FROM documents WHERE doc_id % 10 = 0 UNION ALL
         |  SELECT doc_id + 300000,
         |    array_to_string((${toksE("text")})[1:2], ' ')
         |  FROM documents WHERE doc_id % 10 = 7)""".stripMargin
    s"""WITH ${minhashCtesOver(gateCorpus)},
       |flagged AS (
       |  SELECT DISTINCT doc_b FROM scored
       |  WHERE inter_size * 1000 >= union_size * 800
       |    AND doc_a < 100000 AND doc_b >= 100000)
       |SELECT doc_id FROM corpus
       |WHERE doc_id >= 100000
       |  AND doc_id NOT IN (SELECT doc_b FROM flagged)""".stripMargin
  }

  /** Per-band bucket occupancy ([[graft.llm.LshIndex.bucketStatsOf]]):
    * bucket count, hottest bucket, and the exact candidate-pair load
    * Σ c·(c−1)/2 each band would contribute to a self-join. */
  val lshBucketStats: String =
    s"""WITH $minhashCtes,
       |bc AS (SELECT band, band_key, count(*) AS c
       |       FROM bands GROUP BY 1, 2)
       |SELECT band, count(*) AS n_buckets, max(c) AS max_bucket,
       |  (sum((c * (c - 1)) // 2))::BIGINT AS cand_pairs
       |FROM bc GROUP BY band""".stripMargin

  /** Per-generation band-bucket stats ([[graft.llm.LshIndex
    * .bucketStatsGen]] over the mid-merge fixture): the engine's
    * generations hold the doc_id % 3 slices (cold = 0 after one hot
    * cycle, merging = 1 staged-but-uncommitted, hot = 2), so the
    * oracle recomputes the band chain over the raw documents and tags
    * each doc's bands with its slice — the stored layout must be
    * indistinguishable from that from-scratch derivation.
    *
    * `max_bucket_files` — the physical fragmentation column
    * ([[graft.llm.LshIndex.bucketStatsGen]]) — is exactly 1 for every
    * generation of this fixture BY THE LAYOUT INVARIANTS, which is
    * what makes a Spark-physical quantity oracle-checkable: cold is a
    * fresh build (one file per non-empty bucket by build's
    * repartition), merging is one `onePerBucket` append onto an
    * empty hot (zero data files), hot likewise — so the deepest
    * per-bucket stack everywhere is one file, and any regression in
    * those invariants (build fragmenting, appends fanning out
    * tasks×buckets files) breaks the hash. */
  val lshGenStats: String =
    s"""WITH ${minhashCtesOver("corpus AS (SELECT doc_id, text FROM documents)")},
       |tagged AS (SELECT
       |  CASE doc_id % 3 WHEN 0 THEN 'cold' WHEN 1 THEN 'merging'
       |    ELSE 'hot' END AS gen,
       |  band, band_key FROM bands),
       |bc AS (SELECT gen, band, band_key, count(*) AS c
       |       FROM tagged GROUP BY 1, 2, 3)
       |SELECT gen, band, count(*) AS n_buckets, max(c) AS max_bucket,
       |  (sum((c * (c - 1)) // 2))::BIGINT AS cand_pairs,
       |  1::BIGINT AS max_bucket_files
       |FROM bc GROUP BY 1, 2""".stripMargin

  /** Physical-fragmentation lifecycle of the stored LSH index
    * (buildGen → 3 hot appends → one merge cycle → delete → purge).
    * File layout itself is Spark-physical and invisible to an
    * independent SQL engine, so the oracle checks it two ways: the
    * INVARIANTS the lifecycle must satisfy (appends fragment, the
    * merge restores one file per non-empty bucket, rows survive, the
    * stats query's `max_bucket_files` counts the appends, the
    * maintenance driver surfaces and lands the purge) are emitted by
    * the engine as 0/1 metrics and pinned to 1 here,
    * while the stored tables' ROW counts — what the files must add up
    * to — are recomputed from scratch via the shared shingle/band CTE
    * chain over the same sub-corpus (doc_id % 20 < 4). */
  val lshFragStats: String = {
    // two metric names outlive the stats columns they were named for:
    // `avg_file_rows_reconciles` checks that bucketStatsGen reports the
    // hot generation's max_bucket_files as the 3 appends, and
    // `stats_surface_purge_debt` that LshMaintenance.recover re-arms
    // the purge from the pending tombstones and maybeCommit lands it
    //
    // post-purge corpus: the lifecycle deletes the %20 == 1 append
    // slice and purges, so the final stored rows are the chain over
    // the sub-corpus MINUS that slice; the pending-tombstone count is
    // the slice's document count, recomputed independently
    val subCorpus =
      """corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 20 < 4 AND doc_id % 20 <> 1)""".stripMargin
    s"""WITH ${minhashCtesOver(subCorpus)}
       |SELECT 'band_rows' AS metric, count(*)::BIGINT AS value FROM bands
       |UNION ALL SELECT 'sets_rows', count(*)::BIGINT FROM sets
       |UNION ALL SELECT 'appends_fragment_files', 1
       |UNION ALL SELECT 'compact_one_file_per_nonempty_bucket', 1
       |UNION ALL SELECT 'rows_preserved_through_compact', 1
       |UNION ALL SELECT 'avg_file_rows_reconciles', 1
       |UNION ALL SELECT 'tombstones_pending', count(*)::BIGINT
       |  FROM documents WHERE doc_id % 20 = 1
       |UNION ALL SELECT 'stats_surface_purge_debt', 1
       |UNION ALL SELECT 'tombstones_after_purge', 0
       |UNION ALL SELECT 'purge_one_file_per_nonempty_bucket', 1
       |UNION ALL SELECT 'purge_drops_rows', 1""".stripMargin
  }

  /** Analytic LSH S-curve (Broder/MMDS): detection probability
    * 1 − (1 − t^r)^b for every (bands, rows) factorization of the
    * 16-hash signature across a Jaccard grid — the math that justifies
    * the engine's (4, 4) default (knee (1/b)^(1/r) ≈ 0.7). */
  val lshTuning: String =
    s"""WITH f(n_bands, rows_per_band) AS
       |  (VALUES (1,16),(2,8),(4,4),(8,2),(16,1)),
       |g AS (SELECT 50*j AS jaccard_pm FROM range(1, 20) t(j))
       |SELECT n_bands::BIGINT AS n_bands,
       |  rows_per_band::BIGINT AS rows_per_band,
       |  jaccard_pm::BIGINT AS jaccard_pm,
       |  round(1000 * (1 - pow(1 - pow(jaccard_pm/1000.0, rows_per_band),
       |    n_bands)), 0)::BIGINT AS detect_pm
       |FROM f, g""".stripMargin

  /** Near-dup yield curve over the LSH-detected pair set: docs whose
    * max Jaccard to a smaller-id partner clears each threshold. */
  val dedupRateCurve: String =
    s"""WITH $minhashCtes,
       |jp AS (
       |  SELECT doc_b, (1000 * inter_size) // union_size AS jpm
       |  FROM scored WHERE inter_size * 1000 >= union_size * 200),
       |w AS (SELECT doc_b, max(jpm) AS mj FROM jp GROUP BY doc_b)
       |SELECT t.threshold_pm::BIGINT AS threshold_pm,
       |  count(*) AS n_docs_removed
       |FROM w, (VALUES (500),(600),(700),(800),(900)) t(threshold_pm)
       |WHERE w.mj >= t.threshold_pm
       |GROUP BY 1""".stripMargin

  /** Connected components over the ≥0.8-Jaccard near-dup graph: each
    * clustered doc mapped to its cluster's min doc_id (the canonical
    * keeper). Transitive closure via recursive CTE — Spark's twin is a
    * min-label-propagation fixpoint, which converges to the same
    * min-reachable-id labeling. */
  val dedupClusters: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM scored
       |          WHERE inter_size * 1000 >= union_size * 800),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, least(src, min(dst))::BIGINT AS canonical_id
       |FROM reach GROUP BY src""".stripMargin

  /** Leakage-safe split ([[graft.llm.Dedup.leakageSafeSplit]]): the
    * recursive-CTE cluster labeling, then every corpus doc keyed to
    * its canonical (self for singletons) and bucketed by the overflow-
    * safe multiplier hash — identical split iff identical cluster. */
  val leakageSplit: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM scored
       |          WHERE inter_size * 1000 >= union_size * 800),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |clusters AS (
       |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS canonical_id
       |  FROM reach GROUP BY src),
       |canon AS (
       |  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
       |  FROM corpus d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
       |SELECT doc_id, canonical_id,
       |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, canonical_id,
       |        ((canonical_id % 1000003) * 2654435761) % 1000 AS b
       |      FROM canon)""".stripMargin

  val simhashDedup: String =
    s"""WITH $nearDupCorpus,
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sk AS (
       |  SELECT doc_id,
       |    list_sum([CASE WHEN coalesce(list_sum([CASE WHEN (h >> j) & 1 = 1
       |          THEN 1 ELSE -1 END for h in ths])::BIGINT, 0) >= 0
       |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      for j in range(32)])::BIGINT AS sh
       |  FROM th),
       |banded AS (
       |  SELECT doc_id, sh, b AS band, (sh >> (8*b)::INT) & 255 AS nibble
       |  FROM sk, range(4) t(b)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.sh AS sh_a, b.sh AS sh_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.nibble = b.nibble AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       |FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin

  val cosineTopK: String =
    s"""WITH q AS (SELECT vec_id AS query_id, ${quantE("embedding")} AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id, ${quantE("embedding")} AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, vec_id, ${cosE("qv", "cv")} AS cos
       |  FROM c, q WHERE vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** Hard-negative mining ([[graft.llm.Similarity.hardNegatives]]):
    * per query (vec_id < 8), top-5 cross-label neighbors below the
    * 0.95 false-negative ceiling, plus the same-label positive anchor
    * (LEFT JOIN → NULL when the query's label has no other member,
    * matching Spark's sentinel-to-NULL rewrite). */
  val hardNegatives: String =
    s"""WITH v AS (SELECT vec_id, label, ${quantE("embedding")} AS qv
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS q_label, qv AS qqv
       |      FROM v WHERE vec_id < 8),
       |scored AS (
       |  SELECT query_id, q_label, vec_id, label, ${cosE("qqv", "qv")} AS cos
       |  FROM v, q WHERE vec_id <> query_id),
       |pos AS (SELECT query_id, max(cos) AS pos
       |        FROM scored WHERE label = q_label GROUP BY 1),
       |negs AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored WHERE label <> q_label AND cos < 0.95::DOUBLE)
       |SELECT n.query_id, n.vec_id, round(n.cos, 6) AS score, n.rank,
       |  round(p.pos, 6) AS pos_score
       |FROM negs n LEFT JOIN pos p ON n.query_id = p.query_id
       |WHERE n.rank <= 5""".stripMargin

  /** IVF CTE block: deterministic first-N "centroids", max-cosine corpus
    * assignment, queries keep their `nprobe` nearest cells (multi-probe).
    * With `refine`, one Lloyd iteration replaces each non-empty seed
    * cell's centroid with floor(per-dimension mean) of its members —
    * exact integer sums, correctly-rounded double division, so the
    * refined centroids are bit-identical to Spark's.
    * Defines CTEs `vecs, cents, assigned, q, scored` (callers rank). */
  private def ivfCtes(nprobe: Int, refine: Int = 0): String = {
    val centsBlock =
      if (refine == 0)
        "cents AS (SELECT vec_id AS cent_id, qv AS cv FROM vecs WHERE vec_id < 16)"
      else {
        // chained Lloyd iterations: c0 = seeds; each round re-assigns
        // against c{i-1} and re-centers (floor of per-dimension mean) —
        // the same recurrence Similarity.refinedCentroids folds
        val seeds = "c0 AS (SELECT vec_id AS cent_id, qv AS cv FROM vecs WHERE vec_id < 16)"
        val rounds = (1 to refine).map { i =>
          val prev = s"c${i - 1}"
          frag(
            s"""r$i AS (
               |  SELECT v.vec_id, v.qv, s.cent_id,
               |    row_number() OVER (PARTITION BY v.vec_id
               |      ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS srn
               |  FROM vecs v, $prev s),
               |a$i AS (SELECT vec_id, qv, cent_id FROM r$i WHERE srn = 1),
               |d$i AS (
               |  SELECT cent_id, u FROM (
               |    SELECT cent_id,
               |      unnest([{'p': i, 'd': qv[i+1]} for i in range(len(qv))]) AS u
               |    FROM a$i)),
               |m$i AS (
               |  SELECT cent_id, u.p AS pos,
               |    floor(sum(u.d)::DOUBLE / count(*)::DOUBLE)::BIGINT AS vdim
               |  FROM d$i GROUP BY cent_id, u.p),
               |c$i AS (
               |  SELECT cent_id, list(vdim ORDER BY pos) AS cv
               |  FROM m$i GROUP BY cent_id)""".stripMargin)
        }
        (seeds +: rounds).mkString(",\n") +
          s",\ncents AS (SELECT cent_id, cv FROM c$refine)"
      }
    frag(s"""vecs AS (
       |  SELECT vec_id, ${quantE("embedding")} AS qv FROM embeddings),
       |$centsBlock,
       |cellranked AS (
       |  SELECT v.vec_id, v.qv, c.cent_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosE("v.qv", "c.cv")} DESC, c.cent_id) AS rn
       |  FROM vecs v, cents c),
       |assigned AS (
       |  SELECT vec_id, qv, cent_id FROM cellranked WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, qv AS qqv, cent_id AS qcent
       |      FROM cellranked WHERE vec_id < 5 AND rn <= $nprobe),
       |scored AS (
       |  SELECT query_id, a.vec_id, ${cosE("qqv", "a.qv")} AS cos
       |  FROM assigned a JOIN q
       |    ON a.cent_id = q.qcent AND a.vec_id <> q.query_id)""".stripMargin)
  }

  private def ivfTopKSql(nprobe: Int, refine: Int = 0): String =
    s"""WITH ${ivfCtes(nprobe, refine)},
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM ranked WHERE rank <= 10""".stripMargin

  val ivfTopK: String = ivfTopKSql(1)
  val ivfTopKP3: String = ivfTopKSql(3)
  val ivfTopKKm: String = ivfTopKSql(1, refine = 1)
  val ivfTopKKm2: String = ivfTopKSql(1, refine = 2)

  /** All LSH-blocked candidate pairs with exact Jaccard permille at the
    * exploratory 0.2 cutoff. */
  val ngramJaccardPairs: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, inter_size, union_size,
       |  (1000 * inter_size) // union_size AS jaccard_pm
       |FROM scored WHERE inter_size * 1000 >= union_size * 200""".stripMargin

  /** Recall@10 of IVF vs brute force, permille per query — both chains
    * composed (brute CTEs b-prefixed to avoid collisions). */
  private def ivfRecallSql(nprobe: Int, refine: Int = 0): String =
    s"""WITH bq AS (SELECT vec_id AS query_id, ${quantE("embedding")} AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |bc AS (SELECT vec_id, ${quantE("embedding")} AS cv FROM embeddings),
       |bscored AS (
       |  SELECT query_id, vec_id, ${cosE("qv", "cv")} AS cos
       |  FROM bc, bq WHERE vec_id <> query_id),
       |brute AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM bscored) WHERE rank <= 10),
       |${ivfCtes(nprobe, refine)},
       |ivf AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM scored) WHERE rank <= 10)
       |SELECT b.query_id, (1000 * count(i.vec_id)) // 10 AS recall_pm
       |FROM brute b LEFT JOIN ivf i
       |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
       |GROUP BY b.query_id""".stripMargin

  val ivfRecall: String = ivfRecallSql(1)
  val ivfRecallP3: String = ivfRecallSql(3)
  val ivfRecallKm: String = ivfRecallSql(1, refine = 1)
  val ivfRecallKm2: String = ivfRecallSql(1, refine = 2)

  /** Feature-hashed doc vectors (mirrors `TextAnalysis.hashVectors`:
    * slot d counts tokens whose polyhash ≡ d mod 64; token-less docs
    * drop) through the cosine top-k contract. */
  val docSimTopK: String =
    s"""WITH th AS (
       |  SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths
       |  FROM documents),
       |v AS (
       |  SELECT doc_id AS vec_id,
       |    [len(list_filter(ths, h -> h % 64 = d))::BIGINT
       |     for d in range(64)] AS qv
       |  FROM th WHERE len(ths) > 0),
       |q AS (SELECT vec_id AS query_id, qv FROM v WHERE vec_id < 5),
       |c AS (SELECT vec_id, qv AS cv FROM v),
       |scored AS (
       |  SELECT query_id, vec_id, ${cosE("qv", "cv")} AS cos
       |  FROM c, q WHERE vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** PQ CTE block (mirrors `Similarity.pqParts`): 8 sub-slices per
    * vector, codebook = first-16 vectors' slices with integer norms²
    * (with `refine` Lloyd rounds: re-assign by exact squared L2, then
    * re-center each non-empty (m, code) entry at floor(per-dimension
    * mean) — the recurrence `Similarity.refinedCodebook` folds),
    * encode = argmin exact squared L2 (row_number with code tiebreak ≡
    * Spark's min_by on (dist2, code)), LUT = query-side exact dots.
    * Defines CTEs `vq, sub, cb, enc, lut, qn`. */
  private def pqCoreCtes(refine: Int = 0): String = {
    val cbBlock =
      if (refine == 0)
        frag(s"""cb AS (SELECT m, vec_id::INT AS code, sv AS cbv,
           |         list_sum([x*x for x in sv])::BIGINT AS cbn2
           |       FROM sub WHERE vec_id < 16)""".stripMargin)
      else {
        val seeds =
          "pc0 AS (SELECT m, vec_id::INT AS code, sv AS cbv FROM sub WHERE vec_id < 16)"
        val rounds = (1 to refine).map { i =>
          val prev = s"pc${i - 1}"
          frag(
            s"""pr$i AS (
               |  SELECT s.vec_id, s.m, s.sv, c.code,
               |    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
               |      list_sum([(s.sv[j+1]-c.cbv[j+1])*(s.sv[j+1]-c.cbv[j+1])
               |                for j in range(8)])::BIGINT,
               |      c.code) AS rn
               |  FROM sub s JOIN $prev c USING (m)),
               |pa$i AS (SELECT m, code, sv FROM pr$i WHERE rn = 1),
               |pd$i AS (
               |  SELECT m, code, u FROM (
               |    SELECT m, code,
               |      unnest([{'p': j, 'd': sv[j+1]} for j in range(len(sv))]) AS u
               |    FROM pa$i)),
               |pm$i AS (
               |  SELECT m, code, u.p AS pos,
               |    floor(sum(u.d)::DOUBLE / count(*)::DOUBLE)::BIGINT AS vdim
               |  FROM pd$i GROUP BY m, code, u.p),
               |pc$i AS (
               |  SELECT m, code, list(vdim ORDER BY pos) AS cbv
               |  FROM pm$i GROUP BY m, code)""".stripMargin)
        }
        (seeds +: rounds).mkString(",\n") +
          s",\ncb AS (SELECT m, code, cbv, list_sum([x*x for x in cbv])::BIGINT AS cbn2 FROM pc$refine)"
      }
    frag(s"""vq AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM embeddings),
       |sub AS (SELECT vec_id, m, qv[(m*8+1)::INT:(m*8+8)::INT] AS sv
       |        FROM vq, range(8) t(m)),
       |$cbBlock,
       |enc AS (
       |  SELECT vec_id, m, code, cbn2 FROM (
       |    SELECT s.vec_id, s.m, c.code, c.cbn2,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        list_sum([(s.sv[i+1]-c.cbv[i+1])*(s.sv[i+1]-c.cbv[i+1])
       |                  for i in range(8)])::BIGINT,
       |        c.code) AS rn
       |    FROM sub s JOIN cb c USING (m)) WHERE rn = 1),
       |lut AS (SELECT s.vec_id AS query_id, s.m, c.code,
       |          list_sum([s.sv[i+1]*c.cbv[i+1] for i in range(8)])::BIGINT AS dp
       |        FROM sub s JOIN cb c USING (m) WHERE s.vec_id < 5),
       |qn AS (SELECT vec_id AS query_id,
       |         sqrt(list_sum([x*x for x in qv])::BIGINT::DOUBLE) AS qnrm
       |       FROM vq WHERE vec_id < 5)""".stripMargin)
  }

  /** Unrestricted PQ scoring: estimated cosine = LUT-sum over
    * ‖q‖·√(Σ chosen entry norms²), every (query, vector) pair. */
  private val pqScoredCte: String = frag(
    s"""pqscored AS (
       |  SELECT e2.query_id, e2.vec_id,
       |    e2.est_dot::DOUBLE / (qn.qnrm * sqrt(e2.recon_n2::DOUBLE)) AS cos
       |  FROM (
       |    SELECT l.query_id, e.vec_id,
       |      sum(l.dp)::BIGINT AS est_dot, sum(e.cbn2)::BIGINT AS recon_n2
       |    FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
       |      AND e.vec_id <> l.query_id
       |    GROUP BY 1, 2) e2 JOIN qn USING (query_id))""".stripMargin)

  private def pqTopKSql(refine: Int = 0): String =
    s"""WITH ${pqCoreCtes(refine)},
       |$pqScoredCte
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, vec_id) AS rank
       |      FROM pqscored) WHERE rank <= 10""".stripMargin

  val pqTopK: String = pqTopKSql()
  val pqTopKKm: String = pqTopKSql(refine = 1)

  /** Brute-force top-10 ground truth CTEs (`bq, bc, bscored, brute`). */
  private val bruteCtes: String = frag(
    s"""bq AS (SELECT vec_id AS query_id, ${quantE("embedding")} AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |bc AS (SELECT vec_id, ${quantE("embedding")} AS cv FROM embeddings),
       |bscored AS (
       |  SELECT query_id, vec_id, ${cosE("qv", "cv")} AS cos
       |  FROM bc, bq WHERE vec_id <> query_id),
       |brute AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM bscored) WHERE rank <= 10)""".stripMargin)

  private def pqRecallSql(refine: Int = 0): String =
    s"""WITH $bruteCtes,
       |${pqCoreCtes(refine)},
       |$pqScoredCte,
       |pq AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM pqscored) WHERE rank <= 10)
       |SELECT b.query_id, (1000 * count(p.vec_id)) // 10 AS recall_pm
       |FROM brute b LEFT JOIN pq p
       |  ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |GROUP BY b.query_id""".stripMargin

  val pqRecall: String = pqRecallSql()
  val pqRecallKm: String = pqRecallSql(refine = 1)

  /** Composed IVF-PQ scoring (mirrors `Similarity.ivfPqTopK`): a
    * candidate must live in one of the query's probed cells (`assigned`
    * ⋈ `q` from the IVF block) and is scored through the PQ LUT — the
    * global-codebook composition, so probing every cell degrades to the
    * unrestricted PQ scan. */
  private val ivfPqScoredCte: String = frag(
    s"""ivfpqscored AS (
       |  SELECT e2.query_id, e2.vec_id,
       |    e2.est_dot::DOUBLE / (qn.qnrm * sqrt(e2.recon_n2::DOUBLE)) AS cos
       |  FROM (
       |    SELECT q.query_id, e.vec_id,
       |      sum(l.dp)::BIGINT AS est_dot, sum(e.cbn2)::BIGINT AS recon_n2
       |    FROM enc e
       |      JOIN assigned a ON e.vec_id = a.vec_id
       |      JOIN q ON a.cent_id = q.qcent AND e.vec_id <> q.query_id
       |      JOIN lut l ON l.query_id = q.query_id AND l.m = e.m
       |        AND l.code = e.code
       |    GROUP BY 1, 2) e2 JOIN qn USING (query_id))""".stripMargin)

  private def ivfPqSql(nprobe: Int = 1, pqRefine: Int = 0): String =
    s"""WITH ${ivfCtes(nprobe)},
       |${pqCoreCtes(pqRefine)},
       |$ivfPqScoredCte
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, vec_id) AS rank
       |      FROM ivfpqscored) WHERE rank <= 10""".stripMargin

  val ivfPqTopK: String = ivfPqSql()
  val ivfPqTopKP3: String = ivfPqSql(nprobe = 3)

  private def ivfPqRecallSql(nprobe: Int = 1, pqRefine: Int = 0): String =
    s"""WITH $bruteCtes,
       |${ivfCtes(nprobe)},
       |${pqCoreCtes(pqRefine)},
       |$ivfPqScoredCte,
       |ivfpq AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM ivfpqscored) WHERE rank <= 10)
       |SELECT b.query_id, (1000 * count(p.vec_id)) // 10 AS recall_pm
       |FROM brute b LEFT JOIN ivfpq p
       |  ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |GROUP BY b.query_id""".stripMargin

  val ivfPqRecall: String = ivfPqRecallSql()
  val ivfPqRecallP3: String = ivfPqRecallSql(nprobe = 3)

  /** Residual-encoded IVF-PQ CTE block (mirrors
    * `Similarity.ivfPqResTopK`): codes quantize `qv − cv` against a
    * residual codebook; scoring recombines exactly —
    * est_dot = q·cv + Σ LUT, recon² = ‖cv‖² + 2·Σ cv·r̂ + Σ ‖r̂‖² —
    * every term an exact integer. Needs `vecs, cents, assigned, q`
    * from `ivfCtes`; defines `resscored`. */
  private val ivfPqResCtes: String = frag(
    s"""rsub AS (
       |  SELECT a.vec_id, a.cent_id, m,
       |    [a.qv[m*8+i+1] - c.cv[m*8+i+1] for i in range(8)] AS rsv
       |  FROM assigned a, cents c, range(8) t(m)
       |  WHERE a.cent_id = c.cent_id),
       |rcb AS (
       |  SELECT m, (vec_id - 16)::INT AS code, rsv AS rbv,
       |    list_sum([x*x for x in rsv])::BIGINT AS rbn2
       |  FROM rsub WHERE vec_id >= 16 AND vec_id < 32),
       |renc AS (
       |  SELECT vec_id, cent_id, m, code, rbn2 FROM (
       |    SELECT s.vec_id, s.cent_id, s.m, c.code, c.rbn2,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        list_sum([(s.rsv[i+1]-c.rbv[i+1])*(s.rsv[i+1]-c.rbv[i+1])
       |                  for i in range(8)])::BIGINT,
       |        c.code) AS rn
       |    FROM rsub s JOIN rcb c USING (m)) WHERE rn = 1),
       |ccross AS (
       |  SELECT c.cent_id, b.m, b.code,
       |    list_sum([c.cv[b.m*8+i+1] * b.rbv[i+1] for i in range(8)])::BIGINT AS cvdot
       |  FROM cents c, rcb b),
       |rlut AS (
       |  SELECT v.vec_id AS query_id, b.m, b.code,
       |    list_sum([v.qv[b.m*8+i+1] * b.rbv[i+1] for i in range(8)])::BIGINT AS dp
       |  FROM vecs v, rcb b WHERE v.vec_id < 5),
       |qprobe AS (
       |  SELECT q.query_id, q.qcent,
       |    list_sum([q.qqv[i+1] * c.cv[i+1] for i in range(64)])::BIGINT AS qcv,
       |    list_sum([x*x for x in c.cv])::BIGINT AS cn2,
       |    sqrt(list_sum([x*x for x in q.qqv])::BIGINT::DOUBLE) AS qnrm
       |  FROM q JOIN cents c ON q.qcent = c.cent_id),
       |resscored AS (
       |  SELECT s2.query_id, s2.vec_id,
       |    (s2.qcv + s2.sdp)::DOUBLE /
       |      (s2.qnrm * sqrt((s2.cn2 + 2*s2.scv + s2.srb)::DOUBLE)) AS cos
       |  FROM (
       |    SELECT p.query_id, e.vec_id, p.qcv, p.cn2, p.qnrm,
       |      sum(l.dp)::BIGINT AS sdp, sum(x.cvdot)::BIGINT AS scv,
       |      sum(e.rbn2)::BIGINT AS srb
       |    FROM renc e
       |      JOIN qprobe p ON e.cent_id = p.qcent AND e.vec_id <> p.query_id
       |      JOIN rlut l ON l.query_id = p.query_id AND l.m = e.m
       |        AND l.code = e.code
       |      JOIN ccross x ON x.cent_id = e.cent_id AND x.m = e.m
       |        AND x.code = e.code
       |    GROUP BY 1, 2, 3, 4, 5) s2)""".stripMargin)

  private def ivfPqResSql(nprobe: Int = 1): String =
    s"""WITH ${ivfCtes(nprobe)},
       |$ivfPqResCtes
       |SELECT query_id, vec_id, round(cos, 6) AS score, rank
       |FROM (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, vec_id) AS rank
       |      FROM resscored) WHERE rank <= 10""".stripMargin

  val ivfPqResTopK: String = ivfPqResSql()
  // residual + multi-probe: the highest-recall compressed configuration
  val ivfPqResTopKP3: String = ivfPqResSql(nprobe = 3)

  private def ivfPqResRecallSql(nprobe: Int = 1): String =
    s"""WITH $bruteCtes,
       |${ivfCtes(nprobe)},
       |$ivfPqResCtes,
       |respq AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM resscored) WHERE rank <= 10)
       |SELECT b.query_id, (1000 * count(p.vec_id)) // 10 AS recall_pm
       |FROM brute b LEFT JOIN respq p
       |  ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |GROUP BY b.query_id""".stripMargin

  val ivfPqResRecall: String = ivfPqResRecallSql()
  val ivfPqResRecallP3: String = ivfPqResRecallSql(nprobe = 3)

  /** Per-cell IVF population stats (mirrors `Similarity.cellStats`):
    * cell sizes of the max-cosine assignment plus integer-exact share
    * and skew permille — the rebuild-trigger maintenance signal. */
  val annCellStats: String =
    s"""WITH ${ivfCtes(1)},
       |cc AS (SELECT cent_id, count(*)::BIGINT AS n_vecs
       |       FROM assigned GROUP BY cent_id),
       |t AS (SELECT sum(n_vecs)::BIGINT AS total FROM cc)
       |SELECT cent_id, n_vecs,
       |  (1000 * n_vecs) // total AS share_pm,
       |  (1000 * n_vecs * 16) // total AS skew_pm
       |FROM cc, t""".stripMargin

  /** Shared CTE chain of the append-drift lifecycle oracles
    * (`ann_drift_stats`, `ann_maintenance_plan`): the drifted corpus
    * (abs → positive orthant appends), per-stage seed assignments,
    * one exact Lloyd round over the live (post-delete) corpus, and the
    * per-stage per-cell counts g1..g4. */
  private val annDriftCtes: String =
    frag(s"""ea AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < 16 OR vec_id % 4 = 0),
       |eb1 AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |    list_transform(embedding, x -> abs(x)) AS embedding
       |  FROM embeddings WHERE vec_id % 4 = 1),
       |eb2 AS (
       |  SELECT vec_id + 200000 AS vec_id,
       |    list_transform(embedding, x -> abs(x)) AS embedding
       |  FROM embeddings WHERE vec_id % 4 = 2),
       |va AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM ea),
       |vb1 AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM eb1),
       |vb2 AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM eb2),
       |seeds AS (SELECT vec_id AS cent_id, qv AS cv FROM va WHERE vec_id < 16),
       |k1 AS (SELECT * FROM va),
       |k2 AS (SELECT * FROM va UNION ALL SELECT * FROM vb1),
       |k3 AS (SELECT * FROM k2 UNION ALL SELECT * FROM vb2),
       |k4 AS (SELECT * FROM va UNION ALL SELECT * FROM vb2),
       |a1 AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, s.cent_id, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS rn
       |  FROM k1 v, seeds s) WHERE rn = 1),
       |a2 AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, s.cent_id, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS rn
       |  FROM k2 v, seeds s) WHERE rn = 1),
       |a3 AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, s.cent_id, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS rn
       |  FROM k3 v, seeds s) WHERE rn = 1),
       |r4 AS (
       |  SELECT v.vec_id, v.qv, s.cent_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS srn
       |  FROM k4 v, seeds s),
       |a4s AS (SELECT vec_id, qv, cent_id FROM r4 WHERE srn = 1),
       |d4 AS (
       |  SELECT cent_id, u FROM (
       |    SELECT cent_id,
       |      unnest([{'p': i, 'd': qv[i+1]} for i in range(len(qv))]) AS u
       |    FROM a4s)),
       |m4 AS (
       |  SELECT cent_id, u.p AS pos,
       |    floor(sum(u.d)::DOUBLE / count(*)::DOUBLE)::BIGINT AS vdim
       |  FROM d4 GROUP BY cent_id, u.p),
       |nc AS (SELECT cent_id, list(vdim ORDER BY pos) AS cv
       |       FROM m4 GROUP BY cent_id),
       |a4 AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, c.cent_id, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${cosE("v.qv", "c.cv")} DESC, c.cent_id) AS rn
       |  FROM k4 v, nc c) WHERE rn = 1),
       |g1 AS (SELECT cent_id, count(*)::BIGINT AS n FROM a1 GROUP BY cent_id),
       |g2 AS (SELECT cent_id, count(*)::BIGINT AS n FROM a2 GROUP BY cent_id),
       |g3 AS (SELECT cent_id, count(*)::BIGINT AS n FROM a3 GROUP BY cent_id),
       |g4 AS (SELECT cent_id, count(*)::BIGINT AS n FROM a4 GROUP BY cent_id)""".stripMargin)

  /** The append-drift lifecycle (mirrors the `ann_drift_stats` registry
    * query): per-cell stats of the max-cosine seed assignment after the
    * build, after each drifted (abs → positive orthant) append, with the
    * deleted slice surfacing as purge debt, and after a recluster — one
    * exact Lloyd round over the LIVE corpus from the seeds, the skew
    * scale switching to the refined (non-empty) centroid count. */
  val annDriftStats: String =
    s"""WITH $annDriftCtes
       |SELECT '1_post_build' AS stage, cent_id, n AS n_vecs,
       |  (1000 * n) // t AS share_pm, (1000 * n * 16) // t AS skew_pm,
       |  0::BIGINT AS n_tombstones
       |FROM g1, (SELECT sum(n)::BIGINT AS t FROM g1)
       |UNION ALL
       |SELECT '2_post_append1', cent_id, n,
       |  (1000 * n) // t, (1000 * n * 16) // t, 0::BIGINT
       |FROM g2, (SELECT sum(n)::BIGINT AS t FROM g2)
       |UNION ALL
       |SELECT '3_post_append2_deleted', cent_id, n,
       |  (1000 * n) // t, (1000 * n * 16) // t,
       |  (SELECT count(*)::BIGINT FROM vb1)
       |FROM g3, (SELECT sum(n)::BIGINT AS t FROM g3)
       |UNION ALL
       |SELECT '4_post_recluster', cent_id, n,
       |  (1000 * n) // t,
       |  (1000 * n * (SELECT count(*)::BIGINT FROM nc)) // t, 0::BIGINT
       |FROM g4, (SELECT sum(n)::BIGINT AS t FROM g4)""".stripMargin

  /** The maintenance DECISION (mirrors `AnnIndex.maintenancePlan` over
    * the `ann_maintenance_plan` fixture): per stage, the worst cell's
    * skew permille, the pending-tombstone permille of physical rows,
    * and the action — integer-exact both sides. Stages 1/2/4 observe
    * indexes that have never reclustered, so the plain ≥ 2500 skew
    * threshold applies; stages 3/5 observe the RECLUSTERED index,
    * where the recorded post-rebalance baseline arms the hysteresis
    * trigger `skew ≥ greatest(2500, baseline × 1250 // 1000)`:
    * 3_post_recluster stays `none` (intrinsic skew equals the
    * baseline by construction — the r14 threshold-only policy
    * reclustered forever here) while 5_redrifted's fresh orthant
    * append pushes past it and re-triggers. */
  val annMaintenancePlan: String = {
    def act(skew: String, tomb: String, threshold: String = "2500") =
      s"""CASE WHEN $skew >= $threshold THEN 'recluster'
         |       WHEN $tomb >= 100 THEN 'purge'
         |       ELSE 'none' END""".stripMargin
    val eff = "(SELECT greatest(2500, (skew * 1250) // 1000) FROM p4)"
    s"""WITH $annDriftCtes,
       |p1 AS (SELECT ((1000 * max(n) * 16) // sum(n))::BIGINT AS skew,
       |              sum(n)::BIGINT AS total FROM g1),
       |p3 AS (SELECT ((1000 * max(n) * 16) // sum(n))::BIGINT AS skew,
       |              sum(n)::BIGINT AS total FROM g3),
       |p4 AS (SELECT ((1000 * max(n) *
       |                (SELECT count(*)::BIGINT FROM nc)) // sum(n))::BIGINT AS skew
       |       FROM g4),
       |eb3 AS (
       |  SELECT vec_id + 300000 AS vec_id,
       |    list_transform(embedding, x -> abs(x)) AS embedding
       |  FROM embeddings WHERE vec_id % 4 = 3),
       |vb3 AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM eb3),
       |a5 AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, c.cent_id, row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${cosE("v.qv", "c.cv")} DESC, c.cent_id) AS rn
       |  FROM vb3 v, nc c) WHERE rn = 1),
       |g5 AS (SELECT cent_id, count(*)::BIGINT AS n FROM (
       |  SELECT cent_id FROM a4 UNION ALL SELECT cent_id FROM a5)
       |  GROUP BY cent_id),
       |p5 AS (SELECT ((1000 * max(n) *
       |                (SELECT count(*)::BIGINT FROM nc)) // sum(n))::BIGINT AS skew
       |       FROM g5),
       |tomb3 AS (SELECT ((1000 * (SELECT count(*)::BIGINT FROM vb1))
       |                   // (SELECT total FROM p3))::BIGINT AS pm),
       |tomb1 AS (SELECT ((1000 * (SELECT count(*)::BIGINT FROM ea
       |                          WHERE vec_id >= 16 AND vec_id % 8 = 4))
       |                   // (SELECT total FROM p1))::BIGINT AS pm)
       |SELECT '1_fresh' AS stage, skew AS max_skew_pm,
       |  0::BIGINT AS tombstone_pm, ${act("skew", "0")} AS action FROM p1
       |UNION ALL
       |SELECT '2_drifted_deleted', skew, (SELECT pm FROM tomb3),
       |  ${act("skew", "(SELECT pm FROM tomb3)")} FROM p3
       |UNION ALL
       |SELECT '3_post_recluster', skew, 0::BIGINT,
       |  ${act("skew", "0", eff)} FROM p4
       |UNION ALL
       |SELECT '4_tombstones_only', skew, (SELECT pm FROM tomb1),
       |  ${act("skew", "(SELECT pm FROM tomb1)")} FROM p1
       |UNION ALL
       |SELECT '5_redrifted', skew, 0::BIGINT,
       |  ${act("skew", "0", eff)} FROM p5""".stripMargin
  }

  /** The capstone composition (mirrors `Pipeline.trainingPipeline` over
    * the exact-dup-injected corpus): language filter → quality filter →
    * exact dedup keeping the min-id canonical copy → redaction → token
    * stats of the cleaned text. */
  val trainingPipeline: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |st AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS en,
       |    len(list_filter(${toksE("text")}, w -> w IN ('el','la','los','de','que')))::BIGINT AS es,
       |    len(list_filter(${toksE("text")}, w -> w IN ('der','die','und','das','ist')))::BIGINT AS de,
       |    len(list_filter(${toksE("text")}, w -> w IN ('le','les','et','une','est')))::BIGINT AS fr,
       |    len(${toksE("text")})::BIGINT AS wc,
       |    len(list_distinct(${toksE("text")}))::BIGINT AS uniq,
       |    len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |  FROM corpus),
       |sc AS (
       |  SELECT doc_id, text,
       |    CASE WHEN cjk*10 > n*3 THEN 'zh'
       |         WHEN en+es+de+fr = 0 THEN 'und'
       |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       |         WHEN es >= de AND es >= fr THEN 'es'
       |         WHEN de >= fr THEN 'de'
       |         ELSE 'fr' END AS pred_lang,
       |    (least(1000, wc * 20)
       |      + CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END
       |      + CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END) // 3 AS quality
       |  FROM st),
       |kept AS (
       |  SELECT doc_id, text, quality FROM sc
       |  WHERE pred_lang = 'en' AND quality >= 400),
       |winners AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |  FROM (SELECT doc_id,
       |          sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS ck
       |        FROM kept)
       |  GROUP BY ck),
       |fin AS (
       |  SELECT k.doc_id, k.quality, w.n_copies,
       |    regexp_replace(regexp_replace(regexp_replace(k.text,
       |      'https?://[!-~]+', '<URL>', 'g'),
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS clean
       |  FROM kept k JOIN winners w ON k.doc_id = w.doc_id)
       |SELECT doc_id, quality, n_copies,
       |  len(${toksE("clean")})::BIGINT AS n_ws_tokens,
       |  len(regexp_extract_all(clean, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]'))::BIGINT AS n_bpe_tokens,
       |  length(clean)::BIGINT AS n_chars
       |FROM fin""".stripMargin

  /** Signatures via the typed Aggregator path — same math as the
    * expression form; docs with no shingles are absent (no rows to
    * aggregate). */
  val minhashSignatures: String =
    s"""WITH th AS (
       |  SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM documents),
       |sets AS (SELECT doc_id, ${shSetE("ths")} AS sh FROM th),
       |sigs AS (SELECT doc_id, ${sigE("sh")} AS sig FROM sets WHERE len(sh) > 0)
       |SELECT doc_id, j, sig[j+1] AS sig_value FROM sigs, range(16) t(j)""".stripMargin

  val redactText: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(
       |    text || ' ping admin' || doc_id || '@example.com' ||
       |    ' via https://ex.test/' || doc_id || ' from 10.0.0.' || (doc_id % 255),
       |    'https?://[!-~]+', '<URL>', 'g'),
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
       |  AS redacted
       |FROM documents""".stripMargin

  /** Little-endian n-byte hex rendering of integer SQL expr `e`. */
  private def leHex(e: String, n: Int): String =
    (0 until n).map(i =>
      s"lpad(hex(($e // ${1L << (8 * i)}) % 256), 2, '0')").mkString(" || ")
  private def le4(e: String): String = leHex(e, 4)
  private def le2(e: String): String = leHex(e, 2)

  /** CTE chain reconstructing every synthetic media payload
    * BYTE-FOR-BYTE in SQL — BMP and WAV are just headers + raw
    * little-endian fields, so hex-string construction replays
    * `MediaCodec.encodeBmp`/`encodeWav` exactly (headers, row padding,
    * two's-complement samples and all). Yields
    * `blobs(media_id, kind, payload_hex)` over `corpus(doc_id, text)`.
    * No leading `|` anywhere: this snippet embeds inside stripMargin
    * strings. */
  private def mediaBlobCtes(corpus: String): String =
    s"""m AS (SELECT doc_id AS media_id, doc_id % 4 AS m4, text,
         length(text) AS len FROM ($corpus)),
     img_geom AS (
       SELECT media_id, text, len, 16 + (media_id % 8) * 2 AS w,
         12 + (media_id % 8) AS h,
         ((3 * (16 + (media_id % 8) * 2) + 3) // 4) * 4 AS rowbytes
       FROM m WHERE m4 IN (0, 3)),
     img_rowhex AS (
       SELECT media_id, yy,
         list_aggregate([
             lpad(hex(ascii(substr(text,
               (((h-1-yy)*w + x) % greatest(len, 1)) + 1, 1)) % 256), 2, '0') ||
             lpad(hex((x*3 + (h-1-yy)*5 + 2*len) % 256), 2, '0') ||
             lpad(hex((x*7 + (h-1-yy)*13 + len) % 256), 2, '0')
           for x in range(w)], 'string_agg', '') ||
           repeat('00', rowbytes - 3*w) AS row_hex
       FROM (SELECT media_id, w, h, len, text, rowbytes,
               unnest(range(h)) AS yy FROM img_geom)),
     img_px AS (SELECT media_id, string_agg(row_hex, '' ORDER BY yy)
                  AS px_hex FROM img_rowhex GROUP BY 1),
     img_blob AS (
       SELECT g.media_id,
         '424D' || ${le4("(54 + rowbytes*h)")} || '00000000' ||
         ${le4("54")} ||
         ${le4("40")} || ${le4("w")} || ${le4("h")} || ${le2("1")} ||
         ${le2("24")} || ${le4("0")} || ${le4("(rowbytes*h)")} ||
         ${le4("0")} || ${le4("0")} || ${le4("0")} || ${le4("0")} ||
         px_hex AS hexs
       FROM img_geom g JOIN img_px p USING (media_id)),
     aud AS (
       SELECT media_id, len,
         8000 + ((media_id % 16) // 4) * 4000 AS rate,
         256 + (media_id % 16) * 16 AS n
       FROM m WHERE m4 = 1),
     aud_blob AS (
       SELECT media_id,
         '52494646' || ${le4("(36 + 2*n)")} || '57415645' || '666D7420' ||
         ${le4("16")} || ${le2("1")} || ${le2("1")} || ${le4("rate")} ||
         ${le4("(rate*2)")} || ${le2("2")} || ${le2("16")} ||
         '64617461' || ${le4("(2*n)")} ||
         list_aggregate([
           lpad(hex((((i*2654435761 + len*1000003) % 65536 + 32768)
             % 65536) % 256), 2, '0') ||
           lpad(hex((((i*2654435761 + len*1000003) % 65536 + 32768)
             % 65536) // 256), 2, '0')
           for i in range(n)], 'string_agg', '') AS hexs
       FROM aud),
     blobs AS (
       SELECT media_id, 'image' AS kind, lower(hexs) AS payload_hex
       FROM img_blob
       UNION ALL SELECT media_id, 'audio', lower(hexs) FROM aud_blob
       UNION ALL SELECT media_id, 'video', lower(hex(encode(text)))
       FROM m WHERE m4 = 2)"""

  /** Payload dedup over the dup-injected corpus: the oracle
    * reconstructs each payload's exact bytes and groups by them (the
    * engine groups by sha256 — same partition of the corpus iff the
    * encoders emit exactly the documented bytes). */
  val mediaDedup: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |${mediaBlobCtes("SELECT doc_id, text FROM corpus")}
       |SELECT min(media_id) AS keep_id, count(*)::BIGINT AS n_copies,
       |  ((count(*) - 1) * min(length(payload_hex) // 2))::BIGINT
       |    AS bytes_reclaimed
       |FROM blobs GROUP BY payload_hex""".stripMargin

  /** Byte-exact payload manifest: the full hex of every reconstructed
    * BMP/WAV/opaque payload vs the engine's `hex(bytes)`. */
  val mediaManifest: String =
    s"""WITH ${mediaBlobCtes("SELECT doc_id, text FROM documents")}
       |SELECT media_id, kind, (length(payload_hex) // 2)::BIGINT AS n_bytes,
       |  payload_hex
       |FROM blobs""".stripMargin

  /** Synthetic media metadata derived from documents (mirrors
    * `Multimodal.syntheticMedia` arithmetic: real BMP dims and WAV rate
    * for image/audio, synthetic frame dims for video). */
  private val mediaCte: String =
    s"""media AS (
       |  SELECT doc_id AS media_id,
       |    CASE doc_id % 4 WHEN 1 THEN 'audio' WHEN 2 THEN 'video'
       |      ELSE 'image' END AS kind,
       |    (CASE WHEN doc_id % 4 IN (0, 3) THEN 16 + (doc_id % 8) * 2
       |      ELSE (doc_id % 4) * 160 + 320 END)::INT AS width,
       |    (CASE WHEN doc_id % 4 IN (0, 3) THEN 12 + (doc_id % 8)
       |      ELSE (doc_id % 4) * 90 + 180 END)::INT AS height,
       |    (CASE WHEN doc_id % 4 = 1
       |      THEN 8000 + ((doc_id % 16) // 4) * 4000
       |      ELSE 44100 END)::INT AS sample_rate,
       |    (doc_id % 30) * 1000 + 1000 AS duration_ms,
       |    CASE doc_id % 4 WHEN 1 THEN 'wav' WHEN 2 THEN 'mp4'
       |      ELSE 'bmp' END AS format
       |  FROM documents)""".stripMargin

  val mediaMeta: String =
    s"""WITH $mediaCte
       |SELECT media_id, kind, width, height, sample_rate, duration_ms, format
       |FROM media""".stripMargin

  /** Feature stats of the REAL decode, replayed as generator arithmetic
    * (the engine decodes actual BMP/WAV bytes with ImageIO/AudioSystem;
    * the oracle recomputes what the generator painted — agreement
    * proves the decode inverts the encode exactly). */
  val mediaFeatures: String =
    s"""WITH ${mediaBlobCtes("SELECT doc_id, text FROM documents")},
       |img_sum AS (
       |  SELECT media_id,
       |    sum((x*7 + y*13 + len) % 256)::BIGINT AS sum_r,
       |    sum((x*3 + y*5 + 2*len) % 256)::BIGINT AS sum_g,
       |    sum(ascii(substr(text, ((y*w + x) % greatest(len, 1)) + 1, 1))
       |        % 256)::BIGINT AS sum_b,
       |    sum(CASE WHEN (x*7 + y*13 + len) % 256 + (x*3 + y*5 + 2*len) % 256
       |         + ascii(substr(text, ((y*w + x) % greatest(len, 1)) + 1, 1))
       |           % 256 >= 384
       |        THEN 1 ELSE 0 END)::BIGINT AS bright_px
       |  FROM (SELECT media_id, len, text, w, p % w AS x, p // w AS y
       |        FROM (SELECT media_id, w, h, len, text,
       |                unnest(range(w*h)) AS p FROM img_geom))
       |  GROUP BY 1),
       |aud_sum AS (
       |  SELECT media_id,
       |    sum(abs(((i*2654435761 + len*1000003) % 65536) - 32768))::BIGINT
       |      AS sum_abs,
       |    max(abs(((i*2654435761 + len*1000003) % 65536) - 32768))::BIGINT
       |      AS peak_abs
       |  FROM (SELECT media_id, len, unnest(range(n)) AS i FROM aud)
       |  GROUP BY 1)
       |SELECT g.media_id, 'image' AS kind,
       |  (54 + rowbytes*h)::BIGINT AS n_bytes, 1::BIGINT AS decode_ok,
       |  w::BIGINT AS width, h::BIGINT AS height, (w*h)::BIGINT AS n_px,
       |  sum_r, sum_g, sum_b, bright_px,
       |  NULL::BIGINT AS sample_rate, NULL::BIGINT AS n_samples,
       |  NULL::BIGINT AS sum_abs, NULL::BIGINT AS peak_abs
       |FROM img_geom g JOIN img_sum USING (media_id)
       |UNION ALL
       |SELECT a.media_id, 'audio', (44 + 2*n)::BIGINT, 1,
       |  NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       |  rate::BIGINT, n::BIGINT, sum_abs, peak_abs
       |FROM aud a JOIN aud_sum USING (media_id)
       |UNION ALL
       |SELECT media_id, 'video', octet_length(encode(text))::BIGINT, 1,
       |  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
       |FROM m WHERE m4 = 2""".stripMargin

  /** REAL pixel resize ([[graft.llm.Multimodal.mediaResize]], 8×6 box):
    * the oracle replays the exact-rational box fit and the
    * center-aligned NN index map sx = ((2x'+1)·w) // (2·tw), then the
    * generator pixel formula at the SAMPLED coordinates — so the hash
    * verifies the engine's decode + resample end to end, not just the
    * plan arithmetic. */
  val mediaResize: String =
    s"""WITH ${mediaBlobCtes("SELECT doc_id, text FROM documents")},
       |rs AS (
       |  SELECT media_id, w, h, len, text,
       |    CASE WHEN 8*h <= 6*w THEN 8 ELSE (w*6) // h END AS tw,
       |    CASE WHEN 8*h <= 6*w THEN (h*8) // w ELSE 6 END AS th
       |  FROM img_geom),
       |px AS (
       |  SELECT media_id, tw, th, len, text, w,
       |    ((2*(q % tw) + 1) * w) // (2*tw) AS sx,
       |    ((2*(q // tw) + 1) * h) // (2*th) AS sy
       |  FROM (SELECT media_id, w, h, len, text, tw, th,
       |          unnest(range(tw*th)) AS q FROM rs))
       |SELECT media_id, 1::BIGINT AS decode_ok,
       |  any_value(tw)::BIGINT AS target_width,
       |  any_value(th)::BIGINT AS target_height,
       |  any_value(tw*th)::BIGINT AS out_n_px,
       |  sum((sx*7 + sy*13 + len) % 256)::BIGINT AS out_sum_r,
       |  sum((sx*3 + sy*5 + 2*len) % 256)::BIGINT AS out_sum_g,
       |  sum(ascii(substr(text, ((sy*w + sx) % greatest(len, 1)) + 1, 1))
       |      % 256)::BIGINT AS out_sum_b,
       |  sum(CASE WHEN (sx*7 + sy*13 + len) % 256
       |       + (sx*3 + sy*5 + 2*len) % 256
       |       + ascii(substr(text, ((sy*w + sx) % greatest(len, 1)) + 1, 1))
       |         % 256 >= 384
       |      THEN 1 ELSE 0 END)::BIGINT AS out_bright_px
       |FROM px GROUP BY media_id""".stripMargin

  /** REAL audio downsample ([[graft.llm.Multimodal.audioDownsample]],
    * factor 4): the oracle keeps every 4th index of the generator
    * sample sequence — the identical decimation map — and recomputes
    * the decimated statistics. `(x % 65536) - 32768` IS the signed
    * two's-complement value of the stored u16 (both branches of the
    * sign fold collapse to it). */
  val audioDownsample: String =
    s"""WITH ${mediaBlobCtes("SELECT doc_id, text FROM documents")},
       |ds AS (SELECT media_id, len, rate, n,
       |         unnest(range(0, n, 4)) AS i FROM aud)
       |SELECT media_id, 1::BIGINT AS decode_ok,
       |  any_value(rate // 4)::BIGINT AS out_rate,
       |  count(*)::BIGINT AS out_samples,
       |  sum(abs(((i*2654435761 + len*1000003) % 65536) - 32768))::BIGINT
       |    AS out_sum_abs,
       |  max(abs(((i*2654435761 + len*1000003) % 65536) - 32768))::BIGINT
       |    AS out_peak_abs
       |FROM ds GROUP BY media_id""".stripMargin

  /** Brightness (r+g+b) of the generator pixel sampled at the dHash
    * grid cell (gx, gy) — the 9×8 center-aligned NN map inlined
    * (2·9 = 18, 2·8 = 16 denominators). */
  private def dhashB(gx: String, gy: String): String = {
    val sx = s"(((2*($gx) + 1) * w) // 18)"
    val sy = s"(((2*($gy) + 1) * h) // 16)"
    s"(($sx*7 + $sy*13 + len) % 256 + ($sx*3 + $sy*5 + 2*len) % 256" +
      s" + ascii(substr(text, (($sy*w + $sx) % greatest(len, 1)) + 1, 1))" +
      s" % 256)"
  }

  /** Shared dHash replay ([[graft.llm.Multimodal.imageDHash]]): one
    * row per (image, grid row), the 8 adjacent-brightness bits packed
    * into a row byte, rows concatenated as lowercase hex. */
  private def dhashCtes(corpus: String): String =
    s"""${mediaBlobCtes(corpus)},
       |dg AS (SELECT media_id, w, h, len, text,
       |         unnest(range(8)) AS gy FROM img_geom),
       |drow AS (SELECT media_id, gy,
       |    list_sum([(CASE WHEN ${dhashB("x+1", "gy")} > ${dhashB("x", "gy")}
       |                    THEN 1 ELSE 0 END) * (128 >> x)
       |              for x in range(8)]) AS rowbyte
       |  FROM dg),
       |dhashes AS (
       |  SELECT media_id,
       |    lower(string_agg(lpad(hex(rowbyte), 2, '0'), '' ORDER BY gy))
       |      AS dhash
       |  FROM drow GROUP BY media_id)""".stripMargin

  val imageDHash: String =
    s"""WITH ${dhashCtes("SELECT doc_id, text FROM documents")}
       |SELECT media_id, 1::BIGINT AS decode_ok, dhash FROM dhashes""".stripMargin

  val imageDHashDups: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |${dhashCtes("SELECT doc_id, text FROM corpus")}
       |SELECT dhash, min(media_id) AS canonical_id,
       |  count(*)::BIGINT AS n_copies
       |FROM dhashes GROUP BY dhash HAVING count(*) >= 2""".stripMargin

  /** Per-kind rollup of the decoded features — wraps the
    * [[mediaFeatures]] arithmetic in an outer aggregate. */
  val mediaKindStats: String =
    s"""SELECT kind, count(*)::BIGINT AS n_media,
       |  sum(decode_ok)::BIGINT AS n_decoded,
       |  sum(n_bytes)::BIGINT AS total_bytes,
       |  ((1000 * sum(bright_px)) // sum(n_px))::BIGINT AS bright_pm,
       |  max(peak_abs)::BIGINT AS peak_abs_max
       |FROM ($mediaFeatures) f GROUP BY kind""".stripMargin

  val frameSample: String =
    s"""WITH $mediaCte
       |SELECT media_id, unnest(range(0, duration_ms, 1000)) AS frame_ts_ms
       |FROM media WHERE kind = 'video'""".stripMargin

  val resizePlan: String =
    s"""WITH $mediaCte
       |SELECT media_id, kind,
       |  CASE WHEN 640 * height::BIGINT <= 360 * width::BIGINT
       |       THEN 640::BIGINT ELSE (width::BIGINT * 360) // height END AS target_width,
       |  CASE WHEN 640 * height::BIGINT <= 360 * width::BIGINT
       |       THEN (height::BIGINT * 640) // width ELSE 360::BIGINT END AS target_height
       |FROM media""".stripMargin

  /** Repetition profile: docs with <2 tokens yield no bigrams and are
    * absent on both engines. */
  val docRepetition: String =
    s"""WITH t AS (SELECT doc_id, ${toksE("text")} AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |        ELSE [toks[i+1] || ' ' || toks[i+2] for i in range(len(toks)-1)] END) AS ngram
       |      FROM t),
       |c AS (SELECT doc_id, ngram, count(*) AS c FROM g GROUP BY doc_id, ngram)
       |SELECT doc_id, sum(c)::BIGINT AS total_bigrams,
       |  count(*)::BIGINT AS distinct_bigrams, max(c)::BIGINT AS max_bigram_count,
       |  (1000 * (sum(c)::BIGINT - count(*))) // sum(c)::BIGINT AS repetition_pm
       |FROM c GROUP BY doc_id""".stripMargin

  /** Chunking: stride 48 = 64 − 16; DuckDB list slices are 1-based
    * inclusive and clamp at the list end, matching Spark's
    * `slice(toks, start, 64)`. `//` floors where Spark `div` truncates —
    * the greatest-0 clamp lands both on 0 for short docs. */
  val docChunks: String =
    s"""WITH t AS (SELECT doc_id, ${toksE("text")} AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, greatest((n - 64 + 47) // 48, 0) + 1)) AS chunk_id
       |  FROM n)
       |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       |  array_to_string(toks[(chunk_id*48 + 1)::INT : (chunk_id*48 + 64)::INT], ' ')
       |    AS chunk_text,
       |  least(64, n - chunk_id*48)::BIGINT AS chunk_tokens
       |FROM c""".stripMargin

  /** Decontamination over the exact-dup-injected corpus (guarantees
    * nonempty overlap: the injected copies of eval docs share every
    * shingle). */
  val contamination: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sets AS (SELECT doc_id, sh FROM
       |  (SELECT doc_id, ${shSetE("ths")} AS sh FROM th) WHERE len(sh) > 0),
       |ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM sets WHERE doc_id < 20),
       |tr AS (SELECT doc_id, unnest(sh) AS shingle FROM sets WHERE doc_id >= 20)
       |SELECT tr.doc_id, count(*) AS n_shared_shingles
       |FROM tr JOIN ev USING (shingle)
       |GROUP BY tr.doc_id""".stripMargin

  /** BPE merge training (mirrors `graft.llm.Bpe.merges`): word-count
    * table, then per round pair counting → deterministic best pair
    * (count desc, lexicographic) → left-to-right non-overlapping
    * rewrite. DuckDB's `list_reduce` has no initial value, so the fold
    * runs over singleton-list elements (acc seeds with the first
    * symbol's singleton). The back-looking merge rule is equivalent to
    * the engine's left-to-right scan (`Bpe.mergePair`) because a fresh
    * merge `lhs·rhs` never equals `lhs`. */
  /** The back-looking merge fold (left-to-right non-overlapping, like
    * `graft.llm.Bpe.mergePair`) over `syms`, with the pair from
    * correlated CTE alias `b`. DuckDB's init-less `list_reduce` runs
    * over singleton-list elements so the accumulator seeds with the
    * first symbol. */
  private def bpeFoldE: String = frag(
    """list_reduce([ [s] for s in syms ],
      |      (acc, x) -> CASE
      |        WHEN len(acc) > 0 AND acc[-1] = b.lhs AND x[1] = b.rhs
      |        THEN list_append(list_slice(acc, 1, len(acc)-1),
      |                         b.lhs || b.rhs)
      |        ELSE list_concat(acc, x) END)""".stripMargin)

  /** Shared BPE training CTE block: word counts, then per round pair
    * counting → deterministic best pair (count desc, lexicographic) →
    * rewrite. Defines `w, s0..sN, p1..pN, best1..bestN`. */
  private def bpeCtes(rounds: Int, trainWhere: String = ""): String = {
    val head =
      s"""w AS (
         |  SELECT token, count(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(${toksE("text")}) AS token FROM documents$trainWhere)
         |  GROUP BY token),
         |s0 AS (SELECT cnt, string_split(token, '') AS syms FROM w)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT pr.pair[1] AS lhs, pr.pair[2] AS rhs,
         |    sum(pr.cnt)::BIGINT AS pair_cnt
         |  FROM (SELECT cnt,
         |          unnest([ [syms[i+1], syms[i+2]]
         |                   for i in range(len(syms)-1) ]) AS pair
         |        FROM s${r - 1}) pr
         |  GROUP BY 1, 2),
         |best$r AS (
         |  SELECT lhs, rhs, pair_cnt FROM p$r
         |  ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
         |s$r AS (
         |  SELECT cnt, $bpeFoldE AS syms
         |  FROM s${r - 1} LEFT JOIN best$r b ON true)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  private def bpeMergesSql(rounds: Int): String = {
    val tail = (1 to rounds).map { r =>
      s"SELECT $r::BIGINT AS round, lhs, rhs, lhs || rhs AS merged, pair_cnt FROM best$r"
    }.mkString("\nUNION ALL ")
    "WITH " + bpeCtes(rounds) + "\n" + tail
  }

  val bpeMerges: String = bpeMergesSql(3)
  // rounds = 8: a merged symbol merges again within the history (at
  // sf0.01, round 6 is (m, er) on round 1's output), so the
  // cross-engine gate checks the engine's incremental pair counts
  // after rewrites, not just the first round's fresh count
  val bpeMerges8: String = bpeMergesSql(8)

  /** Apply the learned merges to the corpus: per-doc token count and
    * post-merge symbol count (docs with no tokens vanish via unnest,
    * matching Spark's inner explode). */
  private def bpeEncodeSql(rounds: Int, trainWhere: String = "",
                           applyWhere: String = ""): String = {
    val encCtes = (1 to rounds).map { r =>
      s"""e$r AS (
         |  SELECT doc_id, n_tokens, $bpeFoldE AS syms
         |  FROM e${r - 1} LEFT JOIN best$r b ON true)""".stripMargin
    }
    ("WITH " + bpeCtes(rounds, trainWhere) + ",\n" +
      s"""enc AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n_tokens, unnest(toks) AS token
         |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents$applyWhere)),
         |e0 AS (SELECT doc_id, n_tokens, string_split(token, '') AS syms FROM enc)""".stripMargin +
      ",\n" + encCtes.mkString(",\n") + "\n" +
      s"""SELECT doc_id, max(n_tokens) AS n_tokens,
         |  sum(len(syms))::BIGINT AS n_symbols
         |FROM e$rounds GROUP BY doc_id""".stripMargin)
  }

  val bpeEncode: String = bpeEncodeSql(3)
  val bpeEncode8: String = bpeEncodeSql(8)

  /** WordPiece greedy longest-match encode
    * ([[graft.llm.WordPiece.encode]]) over the same 8-round BPE
    * vocabulary (corpus characters ∪ merge outputs): the oracle
    * computes the identical longest-piece-per-position table
    * relationally, then follows each word's greedy chain with a
    * RECURSIVE CTE — the sequential spelling of the engine's
    * length-bounded `aggregate` fold. Every step advances ≥ 1
    * position (unmatched characters advance 1 and count as unk), so
    * both formulations terminate in ≤ length(word) steps with the
    * same terminal state. */
  /** Shared WordPiece oracle prefix: the BPE training CTEs plus the
    * flat vocab, token occurrences, distinct apply words, and the
    * all-substrings candidate table over the APPLY words — everything
    * both the flat and the `##`-namespaced walks consume. The
    * namespaced walk additionally attests namespaces from the TRAIN
    * word table `w` (its own `candt` substring table), which is what
    * makes the cross split meaningful. */
  private def wordpieceCommonCtes(rounds: Int, trainWhere: String = "",
                                  applyWhere: String = ""): String = {
    val vocabUnion = (1 to rounds)
      .map(r => s"SELECT lhs || rhs AS piece FROM best$r")
      .mkString("\nUNION ")
    bpeCtes(rounds, trainWhere) + ",\n" +
      s"""vocab AS (
         |  SELECT DISTINCT unnest(string_split(token, '')) AS piece FROM w
         |  UNION
         |  $vocabUnion),
         |occ AS (
         |  SELECT doc_id, token, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(${toksE("text")}) AS token
         |        FROM documents$applyWhere)
         |  GROUP BY 1, 2),
         |aw AS (SELECT DISTINCT token FROM occ),
         |cand AS (
         |  SELECT token, pl[1] AS p, pl[2] AS l,
         |         substr(token, pl[1] + 1, pl[2]) AS piece
         |  FROM (SELECT token,
         |          unnest(flatten([[ [p, l]
         |            for l in range(1, length(token) - p + 1) ]
         |            for p in range(length(token))])) AS pl
         |        FROM aw))""".stripMargin
  }

  /** The flat greedy walk: longest vocab piece per position, recursive
    * chain, per-character unk advancement. Defines `lp, walk, done`. */
  private def wordpieceFlatWalkCtes: String =
    s"""lp AS (
       |  SELECT c.token, c.p, max(c.l) AS adv
       |  FROM cand c JOIN vocab v ON c.piece = v.piece GROUP BY 1, 2),
       |walk(token, pos, pieces, unks) AS (
       |  SELECT token, 0, 0::BIGINT, 0::BIGINT FROM aw
       |  UNION ALL
       |  SELECT wk.token, wk.pos + coalesce(lp.adv, 1),
       |         wk.pieces + CASE WHEN lp.adv IS NULL THEN 0 ELSE 1 END,
       |         wk.unks + CASE WHEN lp.adv IS NULL THEN 1 ELSE 0 END
       |  FROM walk wk LEFT JOIN lp ON wk.token = lp.token AND wk.pos = lp.p
       |  WHERE wk.pos < length(wk.token)),
       |done AS (SELECT token, pieces, unks FROM walk
       |         WHERE pos >= length(token))""".stripMargin

  /** The `##`-namespaced walk ([[graft.llm.WordPiece.encodeBert]]):
    * namespace attestation from the training words' substring table
    * (ns 0 = attested as a word prefix, 1 = attested mid-word), the
    * per-namespace longest match, and the recursive chain with BERT's
    * whole-word-[UNK] `bad` flag — recursion stops at the first
    * unmatched position and the terminal row is either pos ≥ length
    * (encoded) or bad (one [UNK] piece). Defines `nsv, lpb, walkb,
    * doneb`. */
  private def wordpieceBertWalkCtes: String =
    s"""candt AS (
       |  SELECT pl[1] AS p, substr(token, pl[1] + 1, pl[2]) AS piece
       |  FROM (SELECT token,
       |          unnest(flatten([[ [p, l]
       |            for l in range(1, length(token) - p + 1) ]
       |            for p in range(length(token))])) AS pl
       |        FROM (SELECT token FROM w) tw)),
       |nsv AS (
       |  SELECT DISTINCT c.piece,
       |         CASE WHEN c.p = 0 THEN 0 ELSE 1 END AS ns
       |  FROM candt c JOIN vocab v ON c.piece = v.piece),
       |lpb AS (
       |  SELECT c.token, c.p, max(c.l) AS adv
       |  FROM cand c JOIN nsv v ON c.piece = v.piece
       |    AND v.ns = CASE WHEN c.p = 0 THEN 0 ELSE 1 END
       |  GROUP BY 1, 2),
       |walkb(token, pos, pieces, bad) AS (
       |  SELECT token, 0, 0::BIGINT, false FROM aw
       |  UNION ALL
       |  SELECT wk.token,
       |         CASE WHEN lp.adv IS NULL THEN wk.pos
       |              ELSE wk.pos + lp.adv END,
       |         wk.pieces + CASE WHEN lp.adv IS NULL THEN 0 ELSE 1 END,
       |         lp.adv IS NULL
       |  FROM walkb wk LEFT JOIN lpb lp
       |    ON wk.token = lp.token AND wk.pos = lp.p
       |  WHERE wk.pos < length(wk.token) AND NOT wk.bad),
       |doneb AS (
       |  SELECT token,
       |         CASE WHEN bad THEN 1::BIGINT ELSE pieces END AS pieces,
       |         CASE WHEN bad THEN 1::BIGINT ELSE 0::BIGINT END AS unk_words
       |  FROM walkb WHERE pos >= length(token) OR bad)""".stripMargin

  val wordpieceEncode8: String =
    "WITH RECURSIVE " + wordpieceCommonCtes(8) + ",\n" +
      wordpieceFlatWalkCtes + "\n" +
      s"""SELECT o.doc_id, sum(o.tf)::BIGINT AS n_tokens,
         |  sum(o.tf * d.pieces)::BIGINT AS n_pieces,
         |  sum(o.tf * d.unks)::BIGINT AS n_unk
         |FROM occ o JOIN done d ON o.token = d.token
         |GROUP BY o.doc_id""".stripMargin

  /** [[graft.llm.WordPiece.encodeBert]] on the cross split (train
    * even doc_ids, apply odd — the namespace only binds on held-out
    * text): the namespaced walk's per-doc totals. */
  val wordpieceBertEncode8: String =
    "WITH RECURSIVE " +
      wordpieceCommonCtes(8, " WHERE doc_id % 2 = 0", " WHERE doc_id % 2 = 1") +
      ",\n" + wordpieceBertWalkCtes + "\n" +
      s"""SELECT o.doc_id, sum(o.tf)::BIGINT AS n_tokens,
         |  sum(o.tf * d.pieces)::BIGINT AS n_pieces,
         |  sum(o.tf * d.unk_words)::BIGINT AS n_unk_words
         |FROM occ o JOIN doneb d ON o.token = d.token
         |GROUP BY o.doc_id""".stripMargin

  /** [[graft.llm.WordPiece.fertilityDiff]] on the same cross split:
    * both walks over the one shared vocab, corpus-level totals, 1-row
    * output. */
  val wordpieceFertilityDiff: String =
    "WITH RECURSIVE " +
      wordpieceCommonCtes(8, " WHERE doc_id % 2 = 0", " WHERE doc_id % 2 = 1") +
      ",\n" + wordpieceFlatWalkCtes + ",\n" + wordpieceBertWalkCtes + ",\n" +
      s"""flat_t AS (
         |  SELECT sum(o.tf)::BIGINT AS n_tokens,
         |         sum(o.tf * d.pieces)::BIGINT AS flat_pieces,
         |         sum(o.tf * d.unks)::BIGINT AS flat_unks
         |  FROM occ o JOIN done d ON o.token = d.token),
         |bert_t AS (
         |  SELECT sum(o.tf * d.pieces)::BIGINT AS bert_pieces,
         |         sum(o.tf * d.unk_words)::BIGINT AS n_unk_words
         |  FROM occ o JOIN doneb d ON o.token = d.token)
         |SELECT n_tokens, flat_pieces, flat_unks, bert_pieces, n_unk_words,
         |  ((1000 * flat_pieces) // n_tokens)::BIGINT AS flat_fertility_milli,
         |  ((1000 * bert_pieces) // n_tokens)::BIGINT AS bert_fertility_milli,
         |  ((1000 * bert_pieces) // flat_pieces)::BIGINT AS overhead_pm
         |FROM flat_t, bert_t""".stripMargin

  /** Per-source tokenizer fertility ([[graft.llm.Bpe.fertility]]):
    * replay the learned merges over the DISTINCT vocabulary (token
    * kept alongside its symbol list), then join token occurrences per
    * source — the same vocab-join application the engine plans. */
  val bpeFertility: String = {
    val rounds = 3
    val vCtes = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT token, $bpeFoldE AS syms
         |  FROM v${r - 1} LEFT JOIN best$r b ON true)""".stripMargin
    }
    "WITH " + bpeCtes(rounds) + ",\n" +
      "v0 AS (SELECT token, string_split(token, '') AS syms FROM w),\n" +
      vCtes.mkString(",\n") + ",\n" +
      s"""vocab AS (SELECT token, len(syms)::BIGINT AS token_syms FROM v$rounds),
         |occ AS (
         |  SELECT source, unnest(${toksE("text")}) AS token FROM documents)
         |SELECT source, count(*)::BIGINT AS n_tokens,
         |  sum(token_syms)::BIGINT AS n_symbols,
         |  sum(length(token))::BIGINT AS n_chars,
         |  ((1000 * sum(token_syms)) // count(*))::BIGINT AS syms_per_token_milli,
         |  ((1000 * sum(token_syms)) // sum(length(token)))::BIGINT
         |    AS compression_milli
         |FROM occ JOIN vocab USING (token)
         |GROUP BY source""".stripMargin
  }
  /** Cross-corpus tokenizer transfer (mirrors `Bpe.encodeCross`): the
    * merge rules come from the EVEN-doc_id half; the per-doc fold
    * replay runs over the ODD half. The replay is uniform — the
    * engine's vocab-reuse is provably identical to replaying the rules
    * on a token's characters, so the oracle needs no vocab split. */
  val bpeEncodeCross: String =
    bpeEncodeSql(3, " WHERE doc_id % 2 = 0", " WHERE doc_id % 2 = 1")

  /** Heavy hitters: the engine prunes with a Misra-Gries sketch then
    * re-counts candidates exactly; the sketch guarantee (every token
    * above N/(capacity+1) survives) makes the result identical to the
    * plain GROUP BY + HAVING stated here. */
  val heavyHitters: String =
    s"""WITH tok AS (SELECT unnest(${toksE("text")}) AS token FROM documents),
       |tot AS (SELECT count(*) AS n FROM tok),
       |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
       |SELECT token, cnt FROM c, tot WHERE cnt * 32 > n""".stripMargin

  /** Bloom-filter decontamination: identical corpus/shingle pipeline to
    * [[contamination]], but membership goes through the 32768-bit Bloom
    * filter (3 probe positions per shingle, MinHash permutation
    * constants). The filter is equivalent to the DISTINCT set of probed
    * positions — a bit is set iff some eval shingle probed it — so the
    * oracle models the bit array as that set; a training shingle is
    * flagged when all 3 of its probes hit. False positives are part of
    * the contract and reproduce exactly. */
  val bloomContamination: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sets AS (SELECT doc_id, sh FROM
       |  (SELECT doc_id, ${shSetE("ths")} AS sh FROM th) WHERE len(sh) > 0),
       |pos AS (
       |  SELECT doc_id, shingle,
       |    ((((2654435761*(j+1)+104729) % $P) * shingle
       |      + (97531*(j+1)+12345) % $P) % $P) % 32768 AS pos
       |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sets), range(3) t(j)),
       |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 20),
       |hits AS (
       |  SELECT p.doc_id, p.shingle
       |  FROM pos p JOIN bits USING (pos)
       |  WHERE p.doc_id >= 20
       |  GROUP BY p.doc_id, p.shingle
       |  HAVING count(*) = 3)
       |SELECT doc_id, count(*) AS n_flagged_shingles
       |FROM hits GROUP BY doc_id""".stripMargin

  /** Kept side of the row-level Bloom gate
    * (`Dedup.bloomContaminatedFromTokenHashes`, the native
    * single-loop expression the streaming curation stage runs): a doc
    * passes iff NONE of its shingles probes 3 set bits in the filter
    * built from the eval docs (doc_id < 20). Docs with fewer than 3
    * tokens have no shingle and pass vacuously; NULL text drops (a
    * NULL predicate fails the filter). Independent DuckDB bloom math —
    * pins the generated-code loop, not just the column twin. */
  val bloomGateKept: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |th AS (SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths FROM corpus),
       |sets AS (SELECT doc_id, sh FROM
       |  (SELECT doc_id, ${shSetE("ths")} AS sh FROM th) WHERE len(sh) > 0),
       |pos AS (
       |  SELECT doc_id, shingle,
       |    ((((2654435761*(j+1)+104729) % $P) * shingle
       |      + (97531*(j+1)+12345) % $P) % $P) % 32768 AS pos
       |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sets), range(3) t(j)),
       |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 20),
       |flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT p.doc_id, p.shingle
       |    FROM pos p JOIN bits USING (pos)
       |    WHERE p.doc_id >= 20
       |    GROUP BY p.doc_id, p.shingle
       |    HAVING count(*) = 3))
       |SELECT c.doc_id FROM corpus c
       |WHERE c.doc_id >= 20 AND c.text IS NOT NULL
       |  AND c.doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin

  /** Snapshot delta: snapshot B drops doc_id ≡ 3 (mod 7), edits
    * doc_id ≡ 0 (mod 5) with a ' v2' suffix, adds −doc_id−1 for
    * doc_id ≡ 0 (mod 11) (negative ids are disjoint from real ids at
    * any SF); the report full-outer joins (doc_id, digest) pairs. */
  val corpusDelta: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS dig_a
       |  FROM documents),
       |bsrc AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 7 != 3
       |  UNION ALL
       |  SELECT -doc_id - 1, text FROM documents WHERE doc_id % 11 = 0),
       |b AS (
       |  SELECT doc_id,
       |    sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS dig_b
       |  FROM bsrc)
       |SELECT CASE WHEN dig_a IS NULL THEN 'added'
       |            WHEN dig_b IS NULL THEN 'removed'
       |            WHEN dig_a != dig_b THEN 'changed'
       |            ELSE 'unchanged' END AS change,
       |  count(*) AS n_docs
       |FROM a FULL OUTER JOIN b USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Chunk-level cross-doc dedup: 32-token zero-overlap chunks (the
    * docChunks arithmetic), chunk hash = polynomial hash of the joined
    * chunk text, boilerplate = hash in ≥ 2 distinct docs. */
  val chunkDedup: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
       |t AS (SELECT doc_id, ${toksE("text")} AS toks FROM corpus),
       |n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, greatest((n - 32 + 31) // 32, 0) + 1)) AS chunk_id
       |  FROM n),
       |ck AS (
       |  SELECT doc_id,
       |    ${polyE("array_to_string(toks[(chunk_id*32 + 1)::INT : (chunk_id*32 + 32)::INT], ' ')")} AS ch,
       |    least(32, n - chunk_id*32)::BIGINT AS chunk_tokens
       |  FROM c),
       |b AS (SELECT ch FROM (SELECT DISTINCT ch, doc_id FROM ck)
       |      GROUP BY ch HAVING count(*) >= 2)
       |SELECT ck.doc_id, count(*) AS n_chunks,
       |  count(b.ch) AS n_boilerplate,
       |  coalesce(sum(CASE WHEN b.ch IS NULL THEN chunk_tokens ELSE 0 END), 0)::BIGINT
       |    AS kept_tokens
       |FROM ck LEFT JOIN b USING (ch)
       |GROUP BY ck.doc_id""".stripMargin

  /** Fused doc profile (language + quality permille) — mirrors
    * `TextAnalysis.docProfile`. Defines CTE `prof(doc_id, pred_lang,
    * quality)`. */
  private val profileCte: String = frag(
    s"""prof AS (
       |  SELECT doc_id, source, wc, ck,
       |    CASE WHEN cjk*10 > n*3 THEN 'zh'
       |         WHEN en+es+de+fr = 0 THEN 'und'
       |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       |         WHEN es >= de AND es >= fr THEN 'es'
       |         WHEN de >= fr THEN 'de'
       |         ELSE 'fr' END AS pred_lang,
       |    (least(1000, wc * 20)
       |      + CASE WHEN wc = 0 THEN 0 ELSE (1000 * uniq) // wc END
       |      + CASE WHEN wc = 0 THEN 0 ELSE (1000 * stop) // wc END) // 3 AS quality
       |  FROM (
       |    SELECT doc_id, source, length(text) AS n,
       |      sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS ck,
       |      len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
       |      len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS en,
       |      len(list_filter(${toksE("text")}, w -> w IN ('el','la','los','de','que')))::BIGINT AS es,
       |      len(list_filter(${toksE("text")}, w -> w IN ('der','die','und','das','ist')))::BIGINT AS de,
       |      len(list_filter(${toksE("text")}, w -> w IN ('le','les','et','une','est')))::BIGINT AS fr,
       |      len(${toksE("text")})::BIGINT AS wc,
       |      len(list_distinct(${toksE("text")}))::BIGINT AS uniq,
       |      len(list_filter(${toksE("text")}, w -> w IN ('the','a','of','and','is')))::BIGINT AS stop
       |    FROM documents))""".stripMargin)

  /** Deterministic sampling bucket of a doc_id, in [0, 1000). */
  private def bucketE(id: String): String =
    s"((($id % $P) * 2654435761 + 104729) % $P) % 1000"

  /** Discrete quantiles on the length domain; the window `sum` is
    * HUGEINT in DuckDB → cast back to BIGINT before comparing. */
  val tokenQuantiles: String =
    s"""WITH c AS (
       |  SELECT len(${toksE("text")})::BIGINT AS n_tokens, count(*) AS cnt
       |  FROM documents GROUP BY 1),
       |cum AS (
       |  SELECT n_tokens,
       |    (sum(cnt) OVER (ORDER BY n_tokens
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
       |  FROM c),
       |t AS (SELECT count(*) AS total FROM documents),
       |q AS (SELECT unnest([250, 500, 750]) AS q_pm)
       |SELECT q_pm, min(n_tokens) AS value
       |FROM cum, t, q
       |WHERE cum * 1000 >= q_pm * total
       |GROUP BY q_pm""".stripMargin

  val vocabDf: String =
    s"""WITH t AS (SELECT doc_id, unnest(${toksE("text")}) AS token FROM documents),
       |g AS (SELECT token, doc_id, count(*) AS c FROM t GROUP BY token, doc_id)
       |SELECT token, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df
       |FROM g GROUP BY token HAVING count(*) >= 2""".stripMargin

  /** Shard assignment replayed exactly (bucketE without the mod-1000,
    * then mod nShards). */
  val shardAssign: String =
    s"""SELECT doc_id,
       |  (((doc_id % $P) * 2654435761 + 104729) % $P)::BIGINT AS sort_key,
       |  ((((doc_id % $P) * 2654435761 + 104729) % $P) % 8)::BIGINT AS shard
       |FROM documents""".stripMargin

  /** Shard balance ([[graft.sources.Shards.shardBalance]]): per-shard
    * doc/token populations and skew vs the uniform share. */
  val shardBalance: String =
    s"""WITH s AS (
       |  SELECT ((((doc_id % $P) * 2654435761 + 104729) % $P) % 8)::BIGINT AS shard,
       |    len(${toksE("text")})::BIGINT AS wc
       |  FROM documents),
       |per AS (
       |  SELECT shard, count(*)::BIGINT AS n_docs, sum(wc)::BIGINT AS n_tokens
       |  FROM s GROUP BY shard),
       |tot AS (SELECT sum(n_docs)::BIGINT AS td, sum(n_tokens)::BIGINT AS tt FROM per)
       |SELECT shard, n_docs, n_tokens,
       |  ((1000 * n_docs * 8) // td)::BIGINT AS doc_skew_pm,
       |  ((1000 * n_tokens * 8) // tt)::BIGINT AS token_skew_pm
       |FROM per, tot""".stripMargin

  val sampleDocs: String =
    s"""SELECT doc_id, ${bucketE("doc_id")}::BIGINT AS bucket
       |FROM documents WHERE ${bucketE("doc_id")} < 100""".stripMargin

  val stratifiedSample: String =
    s"""WITH $profileCte
       |SELECT doc_id, pred_lang, ${bucketE("doc_id")}::BIGINT AS bucket
       |FROM prof
       |WHERE ${bucketE("doc_id")} <
       |  CASE WHEN pred_lang = 'en' THEN 50 ELSE 1000 END""".stripMargin

  /** k smallest sampling buckets per source (ties on doc_id). */
  val examplesPerSource: String =
    s"""WITH b AS (
       |  SELECT source, doc_id, ${bucketE("doc_id")}::BIGINT AS bucket
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, bucket,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY bucket, doc_id) AS rank
       |  FROM b)
       |SELECT source, doc_id, bucket, rank::BIGINT AS rank
       |FROM r WHERE rank <= 3""".stripMargin

  val topQualityPerLang: String =
    s"""WITH $profileCte,
       |ranked AS (
       |  SELECT pred_lang, doc_id, quality,
       |    row_number() OVER (PARTITION BY pred_lang
       |      ORDER BY quality DESC, doc_id) AS rank
       |  FROM prof)
       |SELECT pred_lang, doc_id, quality, rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** Funnel: one row per pipeline gate (en / quality≥400 / distinct
    * content classes). */
  val curationFunnel: String =
    s"""WITH $profileCte
       |SELECT '0_input' AS stage, count(*)::BIGINT AS n_docs FROM prof
       |UNION ALL
       |SELECT '1_lang', count(*)::BIGINT FROM prof WHERE pred_lang = 'en'
       |UNION ALL
       |SELECT '2_quality', count(*)::BIGINT FROM prof
       |WHERE pred_lang = 'en' AND quality >= 400
       |UNION ALL
       |SELECT '3_dedup', count(DISTINCT ck)::BIGINT FROM prof
       |WHERE pred_lang = 'en' AND quality >= 400""".stripMargin

  /** Per-source composition report; mean quality is an integer
    * division of the permille sum. */
  val sourceMix: String =
    s"""WITH $profileCte
       |SELECT source, count(*) AS n_docs, sum(wc)::BIGINT AS total_tokens,
       |  sum(quality)::BIGINT // count(*) AS avg_quality_pm,
       |  sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en
       |FROM prof GROUP BY source""".stripMargin

  /** Per-doc bigram-hash novelty ([[graft.llm.TextAnalysis
    * .ngramNovelty]]): distinct k=2 shingle hashes per doc, corpus
    * first-seen = min doc_id per hash, novelty = permille of a doc's
    * grams it introduced. */
  val ngramNovelty: String =
    s"""WITH th AS (
       |  SELECT doc_id, [${polyE("w")} for w in ${toksE("text")}] AS ths
       |  FROM documents),
       |dg AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(ths) < 2 THEN []::BIGINT[]
       |    ELSE [(ths[i+1]*31 + ths[i+2]) % $P
       |          for i in range(len(ths)-1)] END)) AS sh
       |  FROM th),
       |first_seen AS (SELECT sh, min(doc_id) AS first_doc FROM dg GROUP BY sh)
       |SELECT doc_id, count(*)::BIGINT AS n_ngrams,
       |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       |  ((1000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))
       |    // count(*))::BIGINT AS novelty_pm
       |FROM dg JOIN first_seen USING (sh)
       |GROUP BY doc_id""".stripMargin

  /** Integer-exact unigram surprisal filter ([[graft.llm.LangModel
    * .unigramSurprisal]]): corpus unigram counts, per-token cost
    * `floor(log2(N div cnt))` via binary-string length, per-doc
    * milli-bits-per-token rate, keep-gate at 4030. */
  val unigramSurprisal: String =
    s"""WITH dt AS (
       |  SELECT doc_id, unnest(${toksE("text")}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
       |       FROM dt GROUP BY doc_id, token),
       |uni AS (SELECT token, count(*)::BIGINT AS cnt FROM dt GROUP BY token),
       |tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM uni),
       |sc AS (
       |  SELECT token,
       |    (length(printf('%b', n_total // cnt)) - 1)::BIGINT AS bits
       |  FROM uni, tot),
       |d AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
       |    sum(tf * bits)::BIGINT AS total_bits
       |  FROM tf JOIN sc USING (token) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, total_bits,
       |  ((1000 * total_bits) // n_tokens)::BIGINT AS millibits_per_token,
       |  CASE WHEN (1000 * total_bits) // n_tokens <= 4030
       |    THEN 1 ELSE 0 END::BIGINT AS kept
       |FROM d""".stripMargin

  /** Edit-distance similarity join
    * ([[graft.llm.EditDistance.editDistancePairs]] over the
    * typo-injected corpus): ED-Join prefix filtering — each title's
    * d·q+1 = 5 globally-rarest positional q-grams (order: freq,
    * gram, pos) joined with the ±2 position and length guards, then
    * exact levenshtein verify on the distinct surviving pairs. */
  val editDistancePairs: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 400000,
       |    substr(text, 1, 2 + doc_id % 7) || 'q' ||
       |      substr(text, 4 + doc_id % 7)
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 600000,
       |    substr(text, 1, 2) || 'q' || substr(text, 4, 9) || 'z' ||
       |      substr(text, 14)
       |  FROM documents WHERE doc_id % 10 = 5),
       |t AS (
       |  SELECT doc_id, substr(text, 1, 32) AS title FROM corpus
       |  WHERE length(substr(text, 1, 32)) >= 8),
       |qg AS (
       |  SELECT doc_id, length(title) AS len, i AS pos,
       |         substr(title, i, 2) AS gram
       |  FROM t, unnest(range(1, length(title))) AS u(i)),
       |freq AS (SELECT gram, count(*)::BIGINT AS freq FROM qg GROUP BY gram),
       |pre AS (
       |  SELECT doc_id, len, pos, gram FROM (
       |    SELECT qg.doc_id, qg.len, qg.pos, qg.gram,
       |      row_number() OVER (PARTITION BY qg.doc_id
       |        ORDER BY freq.freq, qg.gram, qg.pos) AS rk
       |    FROM qg JOIN freq USING (gram))
       |  WHERE rk <= 5),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM pre a JOIN pre b ON a.gram = b.gram
       |  WHERE a.doc_id < b.doc_id AND abs(a.pos - b.pos) <= 2
       |    AND abs(a.len - b.len) <= 2)
       |SELECT doc_id_a, doc_id_b,
       |       levenshtein(ta.title, tb.title)::BIGINT AS dist
       |FROM cand
       |JOIN t ta ON cand.doc_id_a = ta.doc_id
       |JOIN t tb ON cand.doc_id_b = tb.doc_id
       |WHERE levenshtein(ta.title, tb.title) <= 2""".stripMargin

  /** Brute-force ground truth for the gram-frequency-CAPPED variant
    * ([[graft.llm.EditDistance.editDistancePairs]] with gramFreqCap=16
    * over the mixed slice corpus): the oracle is the quadratic
    * reference — every pair within edit distance 2, no filtering — so
    * agreement proves the engine's safe-join + length-banded-fallback
    * split is exact, not just self-consistent. The slice (10% of
    * documents + typo dups + hex-titled safe rows) keeps the cross
    * join DuckDB-sized. */
  val editDistancePairsCapped: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 400000,
       |    substr(text, 1, 2 + doc_id % 7) || 'q' ||
       |      substr(text, 4 + doc_id % 7)
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 800000,
       |    printf('uq%x mixed corpus safe title row',
       |           (doc_id * 2654435761) % 1000000007)
       |  FROM documents WHERE doc_id % 10 = 1),
       |t AS (
       |  SELECT doc_id, substr(text, 1, 32) AS title FROM corpus
       |  WHERE length(substr(text, 1, 32)) >= 8)
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |       levenshtein(a.title, b.title)::BIGINT AS dist
       |FROM t a JOIN t b
       |  ON a.doc_id < b.doc_id
       | AND abs(length(a.title) - length(b.title)) <= 2
       |WHERE levenshtein(a.title, b.title) <= 2""".stripMargin

  /** Held-out bigram surprisal with unigram backoff
    * ([[graft.llm.LangModel.bigramSurprisal]] trained on the even-doc
    * half, scored on the odd half): seen bigram costs
    * `floor(log2(cnt(w1) div cnt(w1,w2)))` bits, unseen backs off to
    * the unigram cost plus a 3-bit penalty, OOV to `floor(log2(N))`
    * plus the penalty — all via binary-string length. */
  val bigramSurprisal: String =
    s"""WITH tr AS (
       |  SELECT ${toksE("text")} AS toks FROM documents WHERE doc_id % 2 = 0),
       |scd AS (
       |  SELECT doc_id, ${toksE("text")} AS toks FROM documents
       |  WHERE doc_id % 2 = 1),
       |trt AS (SELECT unnest(toks) AS token FROM tr),
       |uni AS (SELECT token, count(*)::BIGINT AS cnt FROM trt GROUP BY token),
       |tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM uni),
       |trb AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*)::BIGINT AS c2
       |  FROM tr, unnest(range(1, len(toks))) AS u(i) GROUP BY 1, 2),
       |scb AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2,
       |         count(*)::BIGINT AS tf
       |  FROM scd, unnest(range(1, len(toks))) AS u(i) GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT s.doc_id, s.tf,
       |    CASE
       |      WHEN trb.c2 IS NOT NULL
       |        THEN length(printf('%b', u1.cnt // trb.c2)) - 1
       |      WHEN u2.cnt IS NOT NULL
       |        THEN 3 + length(printf('%b', tot.n_total // u2.cnt)) - 1
       |      ELSE 3 + length(printf('%b', tot.n_total)) - 1
       |    END::BIGINT AS bits,
       |    CASE WHEN trb.c2 IS NULL AND u2.cnt IS NOT NULL THEN s.tf
       |      ELSE 0 END AS bk,
       |    CASE WHEN u2.cnt IS NULL THEN s.tf ELSE 0 END AS ov
       |  FROM scb s
       |  LEFT JOIN trb ON s.w1 = trb.w1 AND s.w2 = trb.w2
       |  LEFT JOIN uni u1 ON s.w1 = u1.token
       |  LEFT JOIN uni u2 ON s.w2 = u2.token
       |  CROSS JOIN tot)
       |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |  sum(tf * bits)::BIGINT AS total_bits,
       |  sum(bk)::BIGINT AS n_backoff, sum(ov)::BIGINT AS n_oov,
       |  ((1000 * sum(tf * bits)) // sum(tf))::BIGINT AS millibits_per_bigram,
       |  CASE WHEN (1000 * sum(tf * bits)) // sum(tf) <= 4500
       |    THEN 1 ELSE 0 END::BIGINT AS kept
       |FROM j GROUP BY doc_id""".stripMargin

  /** Dice collocations ([[graft.llm.LangModel.collocations]]): top
    * 200 adjacent pairs (count ≥ 3) by `2000·c12 // (c1+c2)`, ties
    * broken on (w1, w2). */
  val collocations: String =
    s"""WITH t AS (SELECT ${toksE("text")} AS toks FROM documents),
       |uni AS (
       |  SELECT token, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
       |bi AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*)::BIGINT AS c12
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT w1, w2, c12, u1.cnt AS c1, u2.cnt AS c2,
       |  ((2000 * c12) // (u1.cnt + u2.cnt))::BIGINT AS dice_pm
       |FROM bi JOIN uni u1 ON bi.w1 = u1.token
       |JOIN uni u2 ON bi.w2 = u2.token
       |ORDER BY dice_pm DESC, w1, w2 LIMIT 200""".stripMargin

  /** Snapshot drift ([[graft.llm.LangModel.tokenDrift]] over the
    * doc_id-parity split): exact L1 distance between unigram
    * micro-rate distributions. */
  val tokenDrift: String =
    s"""WITH ta AS (
       |  SELECT unnest(${toksE("text")}) AS token
       |  FROM documents WHERE doc_id % 2 = 0),
       |tb AS (
       |  SELECT unnest(${toksE("text")}) AS token
       |  FROM documents WHERE doc_id % 2 = 1),
       |ca AS (SELECT token, count(*)::BIGINT AS cnt_a FROM ta GROUP BY token),
       |cb AS (SELECT token, count(*)::BIGINT AS cnt_b FROM tb GROUP BY token),
       |j AS (
       |  SELECT coalesce(ca.token, cb.token) AS token,
       |    coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
       |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
       |tot AS (SELECT sum(cnt_a)::BIGINT AS total_a,
       |          sum(cnt_b)::BIGINT AS total_b FROM j)
       |SELECT total_a AS n_tokens_a, total_b AS n_tokens_b,
       |  sum(CASE WHEN cnt_a > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_a,
       |  sum(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_b,
       |  count(*)::BIGINT AS vocab_union,
       |  sum(abs((1000000 * cnt_a) // total_a
       |        - (1000000 * cnt_b) // total_b))::BIGINT AS l1_drift_micro
       |FROM j, tot GROUP BY total_a, total_b""".stripMargin

  /** Source-pair unigram L1 matrix ([[graft.llm.LangModel
    * .sourceDivergence]]): the oracle spells the same shared-token
    * identity `L1 = S_a + S_b − 2·Σ_shared min(rate_a, rate_b)` —
    * integer micro-rates end to end. */
  val sourceDivergence: String =
    s"""WITH dt AS (
       |  SELECT source, unnest(${toksE("text")}) AS token FROM documents),
       |counts AS (
       |  SELECT source, token, count(*)::BIGINT AS cnt FROM dt GROUP BY 1, 2),
       |totals AS (SELECT source, sum(cnt)::BIGINT AS total FROM counts GROUP BY 1),
       |rates AS (
       |  SELECT c.source, c.token, ((1000000 * cnt) // total)::BIGINT AS rate
       |  FROM counts c JOIN totals t ON c.source = t.source),
       |sums AS (SELECT source, sum(rate)::BIGINT AS s_rate,
       |           count(*)::BIGINT AS vocab FROM rates GROUP BY 1),
       |shared AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    count(*)::BIGINT AS shared_vocab,
       |    sum(least(a.rate, b.rate))::BIGINT AS overlap_micro
       |  FROM rates a JOIN rates b
       |    ON a.token = b.token AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
       |  shared_vocab, overlap_micro,
       |  (sa.s_rate + sb.s_rate - 2 * overlap_micro)::BIGINT AS l1_micro
       |FROM shared
       |JOIN sums sa ON source_a = sa.source
       |JOIN sums sb ON source_b = sb.source""".stripMargin

  /** Temperature mixing weights ([[graft.llm.LangModel
    * .mixtureWeights]], α = 0.5): w = floor(sqrt(source tokens)) —
    * IEEE sqrt is correctly rounded, argument exact — natural vs
    * sampled permille shares, ratio NULL when natural_pm is 0. */
  val mixtureWeights: String =
    s"""WITH s AS (
       |  SELECT source, count(*)::BIGINT AS n_docs,
       |    sum(len(${toksE("text")}))::BIGINT AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs, n_tokens,
       |        floor(sqrt(n_tokens::DOUBLE))::BIGINT AS w FROM s),
       |tot AS (SELECT sum(n_tokens)::BIGINT AS tok_total,
       |          sum(w)::BIGINT AS w_total FROM w)
       |SELECT source, n_docs, n_tokens,
       |  ((1000 * n_tokens) // tok_total)::BIGINT AS natural_pm, w,
       |  ((1000 * w) // w_total)::BIGINT AS share_pm,
       |  CASE WHEN (1000 * n_tokens) // tok_total > 0
       |    THEN ((1000 * ((1000 * w) // w_total))
       |          // ((1000 * n_tokens) // tok_total))::BIGINT
       |  END AS temp_ratio_pm
       |FROM w, tot""".stripMargin

  /** Token-budget epoch plan ([[graft.llm.LangModel.epochPlan]],
    * budget 10M): tokens_wanted = budget·share‰, epochs_milli =
    * wanted/available — all exact integer division. */
  val epochPlan: String =
    s"""WITH s AS (
       |  SELECT source, count(*)::BIGINT AS n_docs,
       |    sum(len(${toksE("text")}))::BIGINT AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs, n_tokens,
       |        floor(sqrt(n_tokens::DOUBLE))::BIGINT AS w FROM s),
       |tot AS (SELECT sum(w)::BIGINT AS w_total FROM w),
       |p AS (SELECT source, n_docs, n_tokens,
       |        ((1000 * w) // w_total)::BIGINT AS share_pm FROM w, tot)
       |SELECT source, n_docs, n_tokens, share_pm,
       |  ((10000000 * share_pm) // 1000)::BIGINT AS tokens_wanted,
       |  ((1000 * ((10000000 * share_pm) // 1000))
       |    // n_tokens)::BIGINT AS epochs_milli
       |FROM p""".stripMargin

  /** Quality-weighted sampling: keep iff bucket < own quality. */
  val weightedSample: String =
    s"""WITH $profileCte
       |SELECT doc_id, pred_lang, quality,
       |  ${bucketE("doc_id")}::BIGINT AS bucket
       |FROM prof WHERE ${bucketE("doc_id")} < quality""".stripMargin

  /** Token-id encoding vs the top-50 vocab; OOV = 0. */
  val encodeDocs: String =
    s"""WITH d AS (SELECT doc_id, ${toksE("text")} AS toks FROM documents),
       |t AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
       |        unnest(toks) AS token
       |      FROM d),
       |g AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
       |v AS (SELECT token,
       |        row_number() OVER (ORDER BY tf DESC, token) AS token_id
       |      FROM g ORDER BY tf DESC, token LIMIT 50)
       |SELECT t.doc_id, t.pos::BIGINT AS pos,
       |  COALESCE(v.token_id, 0)::BIGINT AS token_id
       |FROM t LEFT JOIN v USING (token)""".stripMargin

  /** OOV permille vs the top-20-by-tf vocab (ties on token text). */
  val oovRate: String =
    s"""WITH t AS (SELECT doc_id, unnest(${toksE("text")}) AS token
       |           FROM documents),
       |g AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
       |v AS (SELECT token FROM (
       |        SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS r
       |        FROM g) WHERE r <= 20)
       |SELECT doc_id, count(*) AS n_tokens,
       |  sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov,
       |  (1000 * sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT)
       |    // count(*) AS oov_pm
       |FROM t LEFT JOIN v ON t.token = v.token
       |GROUP BY doc_id""".stripMargin

  /** Top-3 terms per doc by the integer tf-idf proxy. */
  val docKeywords: String =
    s"""WITH t AS (SELECT doc_id, unnest(${toksE("text")}) AS token
       |           FROM documents),
       |c AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       |d AS (SELECT token, count(*) AS df FROM c GROUP BY token),
       |r AS (
       |  SELECT doc_id, token, tf, df, (1000 * tf) // df AS tfidf_pm,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY (1000 * tf) // df DESC, token) AS rank
       |  FROM c JOIN d USING (token))
       |SELECT doc_id, token, tf, df, tfidf_pm, rank::BIGINT AS rank
       |FROM r WHERE rank <= 3""".stripMargin

  /** Bigram commonness (minDf=2): per-doc bigram counts joined to the
    * corpus bigram document frequency. */
  val bigramCommonness: String =
    s"""WITH t AS (SELECT doc_id, ${toksE("text")} AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |        ELSE [toks[i+1] || ' ' || toks[i+2] for i in range(len(toks)-1)] END) AS ngram
       |      FROM t),
       |c AS (SELECT doc_id, ngram, count(*) AS c FROM g GROUP BY doc_id, ngram),
       |d AS (SELECT ngram, count(*) AS df FROM c GROUP BY ngram)
       |SELECT doc_id, sum(c)::BIGINT AS total_bigrams,
       |  sum(CASE WHEN df >= 2 THEN c ELSE 0 END)::BIGINT AS common_bigrams,
       |  (1000 * sum(CASE WHEN df >= 2 THEN c ELSE 0 END)::BIGINT)
       |    // sum(c)::BIGINT AS commonness_pm
       |FROM c JOIN d USING (ngram) GROUP BY doc_id""".stripMargin

  /** Sequence packing (concat-and-chunk, capacity 128): the oracle uses
    * one global exclusive-prefix window — semantically identical to the
    * engine's two-phase bucketed prefix sum (window `sum` is HUGEINT in
    * DuckDB → cast; all values non-negative so `//` = `div`). DuckDB
    * list slices are 1-based inclusive, matching Spark's `slice`. */
  val packSequences: String =
    s"""WITH t AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS n
       |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |s AS (
       |  SELECT doc_id, toks, n,
       |    coalesce(sum(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS strt
       |  FROM t),
       |p AS (
       |  SELECT doc_id, toks, n, strt,
       |    unnest(range(strt // 128, (strt + n - 1) // 128 + 1)) AS pack_id
       |  FROM s),
       |g AS (
       |  SELECT doc_id, toks, pack_id::BIGINT AS pack_id,
       |    (greatest(pack_id*128 - strt, 0) + 1)::BIGINT AS seg_start,
       |    (least(strt + n, (pack_id+1)*128)
       |      - greatest(strt, pack_id*128))::BIGINT AS seg_tokens
       |  FROM p)
       |SELECT pack_id, doc_id, seg_start, seg_tokens,
       |  array_to_string(
       |    toks[seg_start::INT : (seg_start + seg_tokens - 1)::INT], ' ')
       |    AS seg_text
       |FROM g""".stripMargin

  /** Bucket-local next-fit fold ([[graft.llm.Packing.binPack]]) as a
    * RECURSIVE CTE: one row per (bucket, position), carrying the
    * running (bin, used) state — the same fold Spark runs inside the
    * bounded `aggregate` lambda. Recursion depth ≤ bucketSize (64). */
  private val binPackCtes: String =
    frag(s"""base AS (
       |  SELECT doc_id, least(len(toks), 128)::BIGINT AS seg,
       |    (doc_id // 64)::BIGINT AS bucket
       |  FROM (SELECT doc_id, ${toksE("text")} AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |bkt AS (
       |  SELECT bucket,
       |    list({'doc_id': doc_id, 'seg': seg} ORDER BY doc_id) AS arr
       |  FROM base GROUP BY bucket),
       |fold AS (
       |  SELECT bucket, 1 AS idx, arr,
       |    arr[1].doc_id AS doc_id, arr[1].seg AS seg,
       |    0::BIGINT AS bin, arr[1].seg AS used
       |  FROM bkt
       |  UNION ALL
       |  SELECT bucket, idx + 1, arr,
       |    arr[idx+1].doc_id, arr[idx+1].seg,
       |    CASE WHEN used + arr[idx+1].seg <= 128 THEN bin ELSE bin + 1 END,
       |    CASE WHEN used + arr[idx+1].seg <= 128
       |      THEN used + arr[idx+1].seg ELSE arr[idx+1].seg END
       |  FROM fold WHERE idx < len(arr))""".stripMargin)

  val binPack: String =
    s"""WITH RECURSIVE $binPackCtes
       |SELECT doc_id, seg AS seg_tokens, bucket, bin AS bin_local,
       |  (bucket * 64 + bin)::BIGINT AS bin_id
       |FROM fold""".stripMargin

  val binPackStats: String =
    s"""WITH RECURSIVE $binPackCtes
       |SELECT (bucket * 64 + bin)::BIGINT AS bin_id,
       |  count(*)::BIGINT AS n_docs, sum(seg)::BIGINT AS used_tokens,
       |  (128 - sum(seg))::BIGINT AS waste_tokens,
       |  ((1000 * sum(seg)) // 128)::BIGINT AS fill_pm
       |FROM fold GROUP BY bucket, bin""".stripMargin

  val embeddingNearDup: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |qv AS (SELECT vec_id, ${quantE("embedding")} AS v FROM corpus),
       |sk AS (
       |  SELECT vec_id, v,
       |    list_sum([CASE WHEN coalesce(list_sum([v[d+1] *
       |          (CASE WHEN ((j*1000003 + d) * 2654435761) % 97 < 48
       |                THEN 1 ELSE -1 END) for d in range(len(v))])::BIGINT, 0) >= 0
       |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      for j in range(8)])::BIGINT AS bucket
       |  FROM qv),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
       |  FROM sk a JOIN sk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (SELECT vec_a, vec_b, ${cosE("va", "vb")} AS cos FROM pairs)
       |SELECT vec_a, vec_b, round(cos, 6) AS score
       |FROM scored WHERE cos >= 0.99""".stripMargin

  /** Multi-probe SRP near-dup ([[graft.llm.Similarity
    * .embeddingNearDupMp]]): identical corpus/quantize/bucket math to
    * [[embeddingNearDup]], with the lower-id side additionally probing
    * its 1-bit Hamming bucket neighborhood — each true pair matches
    * exactly once (identity probe iff buckets equal, else the unique
    * flipped-bit probe), so no candidate dedup appears on either
    * side. */
  val embeddingNearDupMp: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |qv AS (SELECT vec_id, ${quantE("embedding")} AS v FROM corpus),
       |sk AS (
       |  SELECT vec_id, v,
       |    list_sum([CASE WHEN coalesce(list_sum([v[d+1] *
       |          (CASE WHEN ((j*1000003 + d) * 2654435761) % 97 < 48
       |                THEN 1 ELSE -1 END) for d in range(len(v))])::BIGINT, 0) >= 0
       |        THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |      for j in range(8)])::BIGINT AS bucket
       |  FROM qv),
       |probes AS (
       |  SELECT vec_id, unnest([bucket] ||
       |    [xor(bucket, (1::BIGINT << j)) for j in range(8)]) AS pb
       |  FROM sk),
       |pairs AS (
       |  SELECT p.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
       |  FROM probes p
       |  JOIN sk b ON p.pb = b.bucket AND p.vec_id < b.vec_id
       |  JOIN sk a ON a.vec_id = p.vec_id),
       |scored AS (SELECT vec_a, vec_b, ${cosE("va", "vb")} AS cos FROM pairs)
       |SELECT vec_a, vec_b, round(cos, 6) AS score
       |FROM scored WHERE cos >= 0.99""".stripMargin

  /** Per-source centroid coherence ([[graft.llm.Similarity
    * .sourceCentroids]]): floor-mean centroid per source, member
    * cosines rounded to micro-units per row before the mean/min. */
  val sourceCentroids: String =
    s"""WITH e AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM embeddings),
       |t AS (
       |  SELECT d.source, e.vec_id, e.qv
       |  FROM e JOIN documents d ON d.doc_id = e.vec_id),
       |dd AS (
       |  SELECT source, u FROM (
       |    SELECT source,
       |      unnest([{'p': i, 'd': qv[i+1]} for i in range(len(qv))]) AS u
       |    FROM t)),
       |m AS (
       |  SELECT source, u.p AS pos,
       |    floor(sum(u.d)::DOUBLE / count(*)::DOUBLE)::BIGINT AS vdim
       |  FROM dd GROUP BY source, u.p),
       |c AS (SELECT source, list(vdim ORDER BY pos) AS cv FROM m GROUP BY source),
       |sc AS (
       |  SELECT t.source,
       |    round(${cosE("t.qv", "c.cv")} * 1000000)::BIGINT AS cos_micro
       |  FROM t JOIN c USING (source))
       |SELECT source, count(*)::BIGINT AS n_vecs,
       |  (sum(cos_micro) // count(*))::BIGINT AS mean_cos_micro,
       |  min(cos_micro)::BIGINT AS min_cos_micro
       |FROM sc GROUP BY source""".stripMargin

  /** Shared CTE chain for the SemDeDup queries ([[graft.llm.Similarity
    * .semanticDedup]]): dup-injected corpus, quantize, first-16 seeds,
    * ONE Lloyd round (same recurrence as the ivf `refine` block:
    * re-assign, floor of per-dimension mean), final cell assignment,
    * then the within-cell greedy dup rule — b is a duplicate iff some
    * lower-id a in b's cell has cos ≥ 0.99, attributed to min(a).
    * Defines CTEs through `assigned` and `dups`. */
  private val semanticDedupCtes: String =
    frag(s"""corpus AS (
       |  SELECT vec_id, embedding FROM embeddings UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |vecs AS (SELECT vec_id, ${quantE("embedding")} AS qv FROM corpus),
       |c0 AS (SELECT vec_id AS cent_id, qv AS cv FROM vecs WHERE vec_id < 16),
       |r1 AS (
       |  SELECT v.vec_id, v.qv, s.cent_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosE("v.qv", "s.cv")} DESC, s.cent_id) AS srn
       |  FROM vecs v, c0 s),
       |a1 AS (SELECT vec_id, qv, cent_id FROM r1 WHERE srn = 1),
       |d1 AS (
       |  SELECT cent_id, u FROM (
       |    SELECT cent_id,
       |      unnest([{'p': i, 'd': qv[i+1]} for i in range(len(qv))]) AS u
       |    FROM a1)),
       |m1 AS (
       |  SELECT cent_id, u.p AS pos,
       |    floor(sum(u.d)::DOUBLE / count(*)::DOUBLE)::BIGINT AS vdim
       |  FROM d1 GROUP BY cent_id, u.p),
       |c1 AS (SELECT cent_id, list(vdim ORDER BY pos) AS cv
       |       FROM m1 GROUP BY cent_id),
       |cellranked AS (
       |  SELECT v.vec_id, v.qv, c.cent_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosE("v.qv", "c.cv")} DESC, c.cent_id) AS rn
       |  FROM vecs v, c1 c),
       |assigned AS (SELECT vec_id, qv, cent_id FROM cellranked WHERE rn = 1),
       |dups AS (
       |  SELECT b.vec_id, min(a.vec_id) AS dup_of
       |  FROM assigned a JOIN assigned b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |    AND ${cosE("a.qv", "b.qv")} >= 0.99
       |  GROUP BY b.vec_id)""".stripMargin)

  /** Per-vector SemDeDup verdicts. */
  val semanticDedup: String =
    s"""WITH $semanticDedupCtes
       |SELECT v.vec_id, v.cent_id,
       |  CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END::BIGINT AS is_dup,
       |  d.dup_of
       |FROM assigned v LEFT JOIN dups d ON v.vec_id = d.vec_id""".stripMargin

  /** Per-cell SemDeDup population / duplicate / kept-permille stats. */
  val semanticDedupStats: String =
    s"""WITH $semanticDedupCtes,
       |verdicts AS (
       |  SELECT v.cent_id,
       |    CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END::BIGINT AS is_dup
       |  FROM assigned v LEFT JOIN dups d ON v.vec_id = d.vec_id)
       |SELECT cent_id, count(*)::BIGINT AS n_vecs,
       |  sum(is_dup)::BIGINT AS n_dups,
       |  ((1000 * (count(*) - sum(is_dup))) // count(*))::BIGINT AS keep_pm
       |FROM verdicts GROUP BY cent_id""".stripMargin

  /** Pair-recall of both SRP near-dup variants vs brute-force ground
    * truth ([[graft.llm.Similarity.embeddingDedupRecall]] over the
    * bounded perturbed corpus). The ±2^-4 perturbation is exactly
    * float32-representable and the sum is cast back to FLOAT, so the
    * perturbed vectors — and therefore every quantized value, bucket
    * bit, and cosine — are bit-identical to Spark's float arithmetic.
    * Both LSH variants verify exact cosine, so found ⊆ true and
    * recall_pm is a pure integer count ratio. */
  val embeddingDedupRecall: String = {
    val bucketE =
      s"""list_sum([CASE WHEN coalesce(list_sum([v[d+1] *
         |      (CASE WHEN ((j*1000003 + d) * 2654435761) % 97 < 48
         |            THEN 1 ELSE -1 END) for d in range(len(v))])::BIGINT, 0) >= 0
         |    THEN (1::BIGINT << j) ELSE 0::BIGINT END
         |  for j in range(8)])::BIGINT""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
       |corpus AS (
       |  SELECT vec_id, embedding FROM base
       |  UNION ALL
       |  SELECT vec_id + 500000,
       |    [CASE WHEN (vec_id + d) % 16 = 0
       |          THEN CAST(embedding[d+1] + CASE WHEN (vec_id + d) % 32 = 0
       |                THEN 0.0625 ELSE -0.0625 END AS FLOAT)
       |          ELSE embedding[d+1] END for d in range(len(embedding))]
       |  FROM base),
       |qv AS (SELECT vec_id, ${quantE("embedding")} AS v FROM corpus),
       |sk AS (SELECT vec_id, v, $bucketE AS bucket FROM qv),
       |tp AS (
       |  SELECT count(*)::BIGINT AS pairs FROM qv a JOIN qv b
       |  ON a.vec_id < b.vec_id WHERE ${cosE("a.v", "b.v")} >= 0.99),
       |srp AS (
       |  SELECT count(*)::BIGINT AS pairs FROM sk a JOIN sk b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosE("a.v", "b.v")} >= 0.99),
       |mp AS (
       |  SELECT count(*)::BIGINT AS pairs FROM
       |    (SELECT vec_id, v, unnest([bucket] ||
       |       [xor(bucket, (1::BIGINT << j)) for j in range(8)]) AS pb
       |     FROM sk) p
       |  JOIN sk b ON p.pb = b.bucket AND p.vec_id < b.vec_id
       |  WHERE ${cosE("p.v", "b.v")} >= 0.99)
       |SELECT 'brute' AS variant, pairs,
       |  (pairs * 1000) // (SELECT pairs FROM tp) AS recall_pm FROM tp
       |UNION ALL SELECT 'srp', pairs,
       |  (pairs * 1000) // (SELECT pairs FROM tp) FROM srp
       |UNION ALL SELECT 'srp_mp', pairs,
       |  (pairs * 1000) // (SELECT pairs FROM tp) FROM mp""".stripMargin
  }
}
