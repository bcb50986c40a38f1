package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFns._

/** Text-analysis operators for a training-data pipeline: token counting,
  * language ID, quality scoring, fingerprinting, n-gram counts.
  *
  * Design for 100 TB: every operator is a stateless per-row projection
  * (no shuffle at all) except the n-gram count, which is one partial+final
  * hash aggregate. Integer outputs everywhere — ratios are permille
  * (`1000*x div y`) so results are engine-independent exact.
  */
object TextAnalysis {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
    * the shape of a GPT-2-style pre-tokenization pass. */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Token/char counting: whitespace tokens, BPE-ish tokens, chars. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic (tiny, constant-folded into the plan — at scale this is a
    * broadcast-free projection). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "une", "est"))

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  /** The language argmax when-chain (en > es > de > fr priority on
    * ties, `und` when nothing matches, `zh` when CJK dominates) —
    * shared by [[langId]] and [[docProfile]] so the fused profile can
    * never drift from the standalone operator. */
  private def predLangExpr(n: Column, cjk: Column,
                           en: Column, es: Column, de: Column, fr: Column): Column =
    when(cjk * 10 > n * 3, "zh")
      .when(en + es + de + fr === 0, "und")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")

  /** Quality permilles over a staged frame with `wc`/`uniq`/`stop`
    * attribute columns — shared by [[qualityScore]] and [[docProfile]]. */
  private def lengthPm: Column = least(lit(1000L), col("wc") * 20L)
  private def uniquePm: Column =
    when(col("wc") === 0, 0L).otherwise(expr("(1000 * uniq) div wc"))
  private def stopPm: Column =
    when(col("wc") === 0, 0L).otherwise(expr("(1000 * stop) div wc"))

  /** Language ID: argmax of marker-word hits with a fixed priority order
    * (en > es > de > fr) on ties; `und` when nothing matches, `zh` when
    * CJK characters dominate. */
  def langId(docs: DataFrame): DataFrame = {
    // stage the token array once — the 4 marker counts each scan it
    val staged = docs.select(
      col("doc_id"), length(col("text")).as("n"),
      size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
        .as("cjk"),
      tokens(col("text")).as("toks"))
    val Seq(en, es, de, fr) =
      LangMarkers.map { case (_, ws) => markerCount(col("toks"), ws) }
    staged.select(col("doc_id"),
      predLangExpr(col("n"), col("cjk"), en, es, de, fr).as("pred_lang"))
  }

  /** Confusion matrix of [[langId]] against the corpus's labeled
    * `lang` column — the evaluation a pipeline runs BEFORE trusting a
    * language gate to route a 100 TB corpus: per (label, prediction)
    * pair, the count and its permille share of the label's rows (the
    * diagonal is per-class recall, off-diagonal cells say WHICH
    * confusions happen — 'und' rows are abstentions, not errors, and
    * deserve a different remediation than wrong-language routing).
    * One scan + one small hash aggregate; the label-total join is a
    * broadcast of ≤ |langs| rows.
    *
    * On the driver corpus the matrix exposes a DATASET defect rather
    * than a classifier one: every label's text reads ~90% 'en' — the
    * synthetic `lang` column is decorative, uncorrelated with the
    * text. That is the point of running the eval: a real pipeline
    * that routed this corpus by its label column would misroute
    * four-fifths of it, and only this matrix would say so. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val m = langId(docs)
      .join(docs.select(col("doc_id"), col("lang").as("label_lang")), "doc_id")
      .groupBy("label_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    val totals = m.groupBy("label_lang").agg(sum("n_docs").as("label_total"))
    m.join(broadcast(totals), Seq("label_lang"))
      .select(col("label_lang"), col("pred_lang"), col("n_docs"),
        expr("(1000 * n_docs) div label_total").as("share_pm"))
  }

  /** Stopwords used by the quality heuristic. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** Shared staging for the quality heuristic and everything derived
    * from it ([[qualityScore]], [[qualityLabeled]] →
    * [[Classifier]]): one scan producing
    * `(doc_id, toks, wc, uniq, stop)`. Keeping the token array as a
    * materialized attribute lets derived ops explode it without
    * re-tokenizing, and keeping ONE staging function means the
    * classifier's training labels can never drift from the standalone
    * quality operator. */
  def qualityStaged(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("wc"),
        size(array_distinct(col("toks"))).cast("long").as("uniq"),
        size(filter(col("toks"), t => t.isInCollection(Stopwords)))
          .cast("long").as("stop"))

  /** Quality scoring in exact integer permille:
    *   - length_pm:   min(1000, 20 * word_count)        (saturates at 50 words)
    *   - unique_pm:   1000 * distinct_tokens / tokens   (lexical diversity)
    *   - stop_pm:     1000 * stopword_tokens / tokens   (naturalness)
    * quality = (length_pm + unique_pm + stop_pm) div 3.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityStaged(docs)
      .select(
        col("doc_id"),
        col("wc").as("word_count"),
        lengthPm.as("length_pm"),
        uniquePm.as("unique_pm"),
        stopPm.as("stop_pm"))
      .withColumn("quality", expr("(length_pm + unique_pm + stop_pm) div 3"))

  /** `(doc_id, toks, hq)`: the heuristic quality label (1 when
    * `quality ≥ threshold`) next to the token array, in the same
    * single scan — the pseudo-label input for
    * [[Classifier]] training. Distillation setup: the
    * heuristic is the cheap teacher, the classifier the even-cheaper
    * student that generalizes past the heuristic's fixed features. */
  def qualityLabeled(docs: DataFrame, threshold: Long): DataFrame =
    qualityStaged(docs)
      .select(col("doc_id"), col("toks"),
        (lengthPm + uniquePm + stopPm).as("pm_sum"))
      .select(col("doc_id"), col("toks"),
        (expr("pm_sum div 3") >= threshold).cast("long").as("hq"))

  /** Gopher document-quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Appendix A) — the published
    * HARD-GATE filter set, complementary to [[qualityScore]]'s
    * blended permille: each rule is an independent 0/1 verdict, and a
    * document must pass all of them. Every ratio threshold runs as an
    * integer cross-multiplication (`10·symbols ≤ words`, never a
    * float division), so verdicts are engine-exact.
    *
    * Rules (integer forms):
    *   r_wordcount:  50 ≤ wc ≤ 100 000
    *   r_meanlen:    3·wc ≤ Σ|token| ≤ 10·wc
    *   r_symbol:     10·(#'#' + #'...') ≤ wc
    *   r_bullet:     10·bullet_lines ≤ n_lines   (≥90% not bullets)
    *   r_ellipsis:   10·ellipsis_lines ≤ 3·n_lines
    *   r_alpha:      5·alpha_words ≥ 4·wc        (≥80% contain a letter)
    *   r_required:   ≥2 distinct of {the,be,to,of,and,that,have,with}
    *
    * One stateless projection per doc — tokens and lines staged once,
    * every rule reads the staged arrays; nothing shuffles. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val staged = docs.select(col("doc_id"),
      TextFns.tokens(col("text")).as("toks"),
      split(col("text"), "\n").as("lines"),
      (length(col("text")) - length(regexp_replace(col("text"),
        lit("#"), lit("")))).cast("long").as("n_hash"),
      ((length(col("text")) - length(regexp_replace(col("text"),
        lit("\\.\\.\\."), lit("")))) / 3).cast("long").as("n_ell"))
    val counted = staged.select(col("doc_id"),
      size(col("toks")).cast("long").as("wc"),
      aggregate(transform(col("toks"), t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).as("sumlen"),
      size(filter(col("toks"), t => t.rlike("[A-Za-z]")))
        .cast("long").as("alpha_words"),
      size(array_intersect(transform(col("toks"), t => lower(t)),
        array(required.map(lit): _*))).cast("long").as("n_required"),
      size(col("lines")).cast("long").as("n_lines"),
      size(filter(col("lines"), l => l.startsWith("-") ||
        l.startsWith("*"))).cast("long").as("bullet_lines"),
      size(filter(col("lines"), l => l.endsWith("...")))
        .cast("long").as("ell_lines"),
      col("n_hash"), col("n_ell"))
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    counted.select(col("doc_id"), col("wc"),
      flag(col("wc") >= 50L && col("wc") <= 100000L).as("r_wordcount"),
      flag(lit(3L) * col("wc") <= col("sumlen") &&
        col("sumlen") <= lit(10L) * col("wc")).as("r_meanlen"),
      flag(lit(10L) * (col("n_hash") + col("n_ell")) <= col("wc"))
        .as("r_symbol"),
      flag(lit(10L) * col("bullet_lines") <= col("n_lines")).as("r_bullet"),
      flag(lit(10L) * col("ell_lines") <= lit(3L) * col("n_lines"))
        .as("r_ellipsis"),
      flag(lit(5L) * col("alpha_words") >= lit(4L) * col("wc")).as("r_alpha"),
      flag(col("n_required") >= 2L).as("r_required"))
      .withColumn("gopher_keep",
        expr("r_wordcount * r_meanlen * r_symbol * r_bullet * " +
          "r_ellipsis * r_alpha * r_required"))
  }

  /** Document fingerprint: polynomial rolling hash of the
    * whitespace-normalized lowercase text — the cheap first-pass identity
    * key for exact dedup at scale (collision-checked by the exact
    * pipeline; 64-bit variants just change [[TextFns.Prime]]). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      polyHash(normalize(col("text"))).as("fp"))

  /** Normalization used by fingerprint/exact-dedup: lowercase + collapse
    * runs of whitespace + trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Unicode-canonicalization audit over the corpus — the QC a pipeline
    * runs before trusting hash-keyed dedup on multi-source text (see
    * [[graft.functions.UnicodeNormOps]]: non-NFC byte encodings make
    * identical documents hash apart). The driver corpus is ASCII, so the
    * non-canonical text this audits is INJECTED deterministically: every
    * 'e' gains a combining acute (U+0301) and every 'o' a combining
    * diaeresis (U+0308) — decomposed sequences NFC composes to 'é'/'ö',
    * exercising the real slow path on every row. One-row output:
    *
    *   - `n_docs`, `sum_raw_chars`: corpus size before decoration;
    *   - `sum_dec_chars`: after decoration (+1 code point per e/o —
    *     pins that both engines count CODE POINTS, not bytes);
    *   - `sum_nfc_chars`: after NFC (combining pairs compose back to
    *     precomposed singletons, so this equals `sum_raw_chars`);
    *   - `n_noncanonical`: docs NFC actually changed (every doc with an
    *     e/o — pins the changed-text detection both ways);
    *   - `n_fold_roundtrip`: docs where accent-folding the decorated
    *     text returns the original ASCII exactly (all of them — the
    *     invariant that folding undoes decoration, nothing more).
    *
    * Scale shape: one pass, two scalar projections per row inside
    * whole-stage codegen, one partial-aggregated 1-row result — the
    * audit costs a corpus scan and nothing else. */
  def unicodeNormStats(docs: DataFrame): DataFrame = {
    import graft.functions.UnicodeNorm.{nfcNormalize, stripAccentsCol}
    val dec = docs.select(col("text"),
      replace(replace(col("text"), lit("e"), lit("e\u0301")),
        lit("o"), lit("o\u0308")).as("dec"))
    dec.agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).as("sum_raw_chars"),
      sum(length(col("dec"))).as("sum_dec_chars"),
      sum(length(nfcNormalize(col("dec")))).as("sum_nfc_chars"),
      sum(when(nfcNormalize(col("dec")) =!= col("dec"), 1L).otherwise(0L))
        .as("n_noncanonical"),
      sum(when(stripAccentsCol(col("dec")) === col("text"), 1L).otherwise(0L))
        .as("n_fold_roundtrip"))
  }

  /** Row-level canonicalization twin of [[unicodeNormStats]] on an
    * entity-name column: decorate each name with PRECOMPOSED accents
    * ('e' → U+00E9) and separately with the DECOMPOSED sequence
    * ('e' → e+U+0301), then return the accent-folded name and an
    * integer flag that NFC maps the decomposed form onto the
    * precomposed one — the canonical-equivalence fact itself, checked
    * per row by the oracle hash. Stateless projection; no shuffle. */
  def canonicalizedNames(names: DataFrame, idCol: String,
                         nameCol: String): DataFrame = {
    import graft.functions.UnicodeNorm.{nfcNormalize, stripAccentsCol}
    names.select(col(idCol),
      replace(col(nameCol), lit("e"), lit("\u00e9")).as("accented"),
      replace(col(nameCol), lit("e"), lit("e\u0301")).as("dec"))
      .select(col(idCol), col("accented"),
        stripAccentsCol(col("accented")).as("folded"),
        when(nfcNormalize(col("dec")) === col("accented"), 1)
          .otherwise(0).as("composed_ok"))
      .drop("dec")
  }

  /** Word-bigram counts — one hash aggregate; `approx_count_distinct`
    * (HLL) of bigrams is exposed in the library for the 100 TB path where
    * an exact distinct would shuffle the full n-gram space. */
  def ngramCounts(docs: DataFrame): DataFrame =
    docs
      .select(tokens(col("text")).as("toks")) // stage: element_at refs below
      .select(explode(bigrams(col("toks"))).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))

  /** Word bigrams of a *materialized* token-array column. */
  private def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))

  /** PII/URL scrubbing patterns (training-data hygiene). Order is
    * load-bearing: URLs first (they may embed `@` and dots that the
    * email/IP patterns would half-match), then emails, then IPs.
    * The URL tail is the explicit printable-ASCII range `[!-~]` rather
    * than `\S`: Java counts vertical tab as whitespace and RE2 does not,
    * so `\S` is the one construct here the engines disagree on. The
    * IP pattern's `\b` carries the other known Java-vs-RE2 gap (Java
    * boundaries are Unicode letterOrDigit, RE2's are ASCII): an IP
    * glued to a non-ASCII letter ("é1.2.3.4") redacts in RE2 but not
    * Java — unexercised by the corpus, Java is the engine of record. */
  val UrlPattern = "https?://[!-~]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact URLs/emails/IPv4s to placeholder tokens — a stateless
    * projection (no shuffle), the scrub pass of a training pipeline. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      IpPattern, "<IP>")

  /** Redaction over documents, with synthetic PII injected per row so
    * the operator provably fires on every class. */
  def redactedDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      redact(concat(col("text"),
        lit(" ping admin"), col("doc_id"), lit("@example.com"),
        lit(" via https://ex.test/"), col("doc_id"),
        lit(" from 10.0.0."), pmod(col("doc_id"), lit(255))))
        .as("redacted"))

  /** HLL distinct n-grams — the scale path (no exact distinct
    * shuffle), reported with the [[graft.ops.Windows.hllWeeklyUsers]]
    * discipline: the engine-specific estimate never leaves the
    * engine; what crosses to the oracle is the EXACT count (the QC
    * side — one distinct shuffle this report can afford) and a 0/1
    * error-bound verdict. Sketch precision vs contract: `rsd` is a
    * STANDARD DEVIATION, not a bound — at Spark's default rsd=0.05
    * the 50‰ verdict is a 1σ test, and this corpus's estimate sits at
    * 40–50‰ across SFs (it failed the boundary by 0.5‰ at sf0.1), so
    * the sketch is configured at rsd=0.02: the 50‰ contract becomes a
    * 2.5σ bound (measured error 14–18‰ at every SF) at the cost of a
    * constant-factor-larger sketch — still KB-sized, still one
    * aggregate. */
  def approxDistinctNgrams(docs: DataFrame,
                           errPermille: Long = 50L,
                           rsd: Double = 0.02): DataFrame = {
    val grams = docs.select(tokens(col("text")).as("toks"))
      .select(explode(bigrams(col("toks"))).as("ngram"))
    grams.agg(approx_count_distinct(col("ngram"), rsd).as("approx"))
      .join(broadcast(grams.agg(
        countDistinct(col("ngram")).as("exact_distinct"))))
      .select(col("exact_distinct"),
        when(abs(col("approx") - col("exact_distinct")) * 1000L
          <= lit(errPermille) * col("exact_distinct"), 1L).otherwise(0L)
          .as("est_ok"))
  }

  /** Single-pass document profile: language prediction + quality permille
    * from ONE staged token array — the fused form of [[langId]] +
    * [[qualityScore]] (one scan, no self-join; the curation filters a
    * training pipeline keys on). Every derived scalar (wc/uniq/stop and
    * the four marker counts) is staged through its own projection so the
    * consumers below reference attributes, not re-evaluated arrays. */
  def docProfile(docs: DataFrame): DataFrame =
    profiled(docs, Nil).select("doc_id", "pred_lang", "quality")

  /** [[docProfile]] with extra input columns carried through untouched —
    * the form a STREAMING consumer needs (the bare profile would drop
    * `event_time`/`text` and strand the stateful stages downstream;
    * see [[graft.streaming.DocStream.curate]]). */
  def docProfile(docs: DataFrame, keep: Seq[String]): DataFrame =
    profiled(docs, keep)
      .select(("doc_id" +: "pred_lang" +: "quality" +: keep).map(col): _*)

  /** The fused profile scan behind [[docProfile]] / [[sourceMix]]:
    * doc_id, wc, pred_lang, quality, plus `keep` columns carried
    * through untouched. Every derived scalar is staged through its own
    * projection so consumers reference attributes, not re-evaluated
    * arrays (no CSE inside higher-order lambdas). */
  private def profiled(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    val staged = docs.select(
      Seq(col("doc_id"), length(col("text")).as("n"),
        size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
          .as("cjk"),
        tokens(col("text")).as("toks")) ++ kept: _*)
    val counts = LangMarkers.map { case (_, ws) => markerCount(col("toks"), ws) }
    val counted = staged.select(
      Seq(col("doc_id"), col("n"), col("cjk"),
        size(col("toks")).cast("long").as("wc"),
        size(array_distinct(col("toks"))).cast("long").as("uniq"),
        size(filter(col("toks"), t => t.isInCollection(Stopwords)))
          .cast("long").as("stop")) ++
        LangMarkers.zip(counts).map { case ((l, _), c) => c.as(s"m_$l") } ++
        kept: _*)
    val Seq(en, es, de, fr) = LangMarkers.map { case (l, _) => col(s"m_$l") }
    counted
      .select(
        Seq(col("doc_id"), col("wc"),
          predLangExpr(col("n"), col("cjk"), en, es, de, fr).as("pred_lang"),
          lengthPm.as("length_pm"),
          uniquePm.as("unique_pm"),
          stopPm.as("stop_pm")) ++ kept: _*)
      .select(
        Seq(col("doc_id"), col("wc"), col("pred_lang"),
          expr("(length_pm + unique_pm + stop_pm) div 3").as("quality")) ++
          kept: _*)
  }

  /** Corpus composition by source — the data-mixing report a training
    * run is configured from: per source, document count, total tokens,
    * mean quality (integer permille of permille-sums, so partial-agg
    * order can't flip it), and how many docs read as English. One
    * fused profile scan, one shuffle over ~|sources| groups, all five
    * aggregates map-side combined. */
  def sourceMix(docs: DataFrame): DataFrame =
    profiled(docs, Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("wc").as("total_tokens"),
        sum("quality").as("q_sum"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("q_sum div n_docs").as("avg_quality_pm"), col("n_en"))

  /** Quality-weighted sampling: keep a doc with probability
    * proportional to its quality score — the resample-toward-quality
    * move of corpus curation (uniform [[hashSample]] buckets gated by
    * the doc's own quality permille). Deterministic: the same doc is
    * kept on every run, every engine, and under corpus growth; no RNG.
    * Stateless projection + filter — no shuffle. */
  def weightedSample(docs: DataFrame): DataFrame =
    docProfile(docs)
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") < col("quality"))

  /** Vocabulary with document frequency — the corpus-statistics table a
    * tokenizer/filter pass trains against. Two slim shuffles, both
    * partial-aggregated: (token, doc_id) collapses per-doc repeats
    * map-side, then the token rollup ships one row per (token,
    * partition). A `count(distinct doc_id)` in one aggregate would plan
    * an expand — same shuffle count, 2× the shuffled rows. */
  def vocabDf(docs: DataFrame, minDf: Long = 2L): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("c"))
      .groupBy("token")
      .agg(sum("c").as("tf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Out-of-vocabulary rate against the corpus top-`vocabSize`
    * vocabulary — the tokenizer-coverage signal: a doc whose tokens
    * mostly fall outside the head vocabulary will fragment into rare
    * pieces (or <unk>) at training time. `oov_pm` = permille of the
    * doc's token occurrences not in the top-K-by-tf vocab (ties break
    * on token text, so the vocab is engine-independent).
    *
    * Scale shape: the vocab is one tf aggregate + a global top-K —
    * `orderBy.limit` plans TakeOrderedAndProject (per-partition K-row
    * heaps, driver merges K rows, never a global sort) — and K rows
    * broadcast into the probe join, so the per-doc pass is one
    * (doc_id)-keyed partial-aggregated shuffle of counts. */
  def oovRate(docs: DataFrame, vocabSize: Int = 20): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov"))
      .withColumn("oov_pm", expr("(1000 * oov) div n_tokens"))
  }

  /** Token → id encoding against the corpus top-`vocabSize` vocabulary
    * — the tokenize step that turns a curated corpus into trainable id
    * sequences (the input [[Packing.packSequences]] windows). Vocab
    * ids are 1..K by (tf desc, token); OOV encodes as 0 (the <unk>
    * slot). Output is one row per token occurrence (doc_id, pos,
    * token_id) — the exploded form keeps the oracle exact; a real
    * export would `collect_list` back per doc after this projection.
    *
    * Scale shape: the vocab is a tf aggregate + `TakeOrderedAndProject`
    * top-K + a K-row window for ids (domain-bounded, never data-
    * bounded), broadcast into the probe; encoding itself is a
    * stateless posexplode + broadcast lookup — text never shuffles. */
  def encodeDocs(docs: DataFrame, vocabSize: Int = 50): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val vocab = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token"))
      .limit(vocabSize)
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("token"))).cast("long"))
      .select("token", "token_id")
    toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** Top-k characteristic terms per document, ranked by an
    * all-integer tf-idf proxy: `tfidf_pm = 1000·tf div df` (high when
    * a term repeats in THIS doc but touches few docs corpus-wide) —
    * keyword extraction without a single float or log.
    *
    * Scale shape: the (doc, token) tf table is built once (slim
    * partial-aggregated shuffle, text never shuffles) and feeds both
    * the df self-aggregation and the probe side of the token-keyed df
    * join, like [[bigramCommonness]]. The per-doc top-k is a window
    * over doc_id — millions of small bounded groups (≤ doc's distinct
    * tokens), so no task ever sorts more than one doc's terms; ties
    * break on token text for engine-independent determinism. */
  def docKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf_pm").desc, col("token"))
    perDoc.join(dfTab, Seq("token"))
      .withColumn("tfidf_pm", expr("(1000 * tf) div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "tfidf_pm", "rank")
  }

  /** Deterministic sampling bucket in [0, 1000) from a numeric id:
    * multiplicative hash mod [[TextFns.Prime]], exact in long arithmetic
    * (id is reduced mod P first so the product stays below 2^62). The
    * SAME doc keeps the same bucket on every run and every engine —
    * reproducible training subsets, no RNG. */
  def sampleBucket(id: Column): Column =
    pmod(pmod(pmod(id, lit(Prime)) * 2654435761L + 104729L, lit(Prime)), lit(1000L))

  /** Bernoulli-by-hash sampling: keep docs whose bucket < permille.
    * A stateless filter — pushes to the scan, no shuffle, and the kept
    * set is stable under re-runs and incremental corpus growth. */
  def hashSample(docs: DataFrame, permille: Int = 100): DataFrame =
    docs
      .select(col("doc_id"), sampleBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < permille)

  /** Stratified sampling: per-language keep rates (permille), defaulting
    * to keep-all for languages not in `rates` — the downsample-the-head,
    * keep-the-tail move of corpus curation. One projection + filter over
    * [[docProfile]]; no shuffle. */
  def stratifiedSample(docs: DataFrame,
                       rates: Map[String, Int] = Map("en" -> 50),
                       defaultPm: Int = 1000): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPm): Column) { case (acc, (l, pm)) =>
      when(col("pred_lang") === l, pm).otherwise(acc)
    }
    docProfile(docs)
      .select(col("doc_id"), col("pred_lang"),
        sampleBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < rate)
  }

  /** K inspection examples per source, chosen by the deterministic
    * sampling hash — "show me a few docs from each feed" without
    * ORDER BY RANDOM(): the k smallest [[sampleBucket]] values per
    * source are a uniform, rerun-stable pick. Same bounded-aggregator
    * shape as [[topQualityPerLang]]: each partition ships ≤ k rows per
    * source, no per-source window sort. */
  def examplesPerSource(docs: DataFrame, k: Int = 3): DataFrame = {
    import Similarity.{Hit, TopKAgg}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id"),
        sampleBucket(col("doc_id")).as("bucket"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => Hit(-t._3.toDouble, t._2)) // negate: smallest bucket wins
      .agg(new TopKAgg(k).toColumn.name("hits"))
      .toDF("source", "hits")
      .select(col("source"), posexplode(col("hits")))
      .select(col("source"), col("col.vecId").as("doc_id"),
        (-col("col.cos")).cast("long").as("bucket"),
        (col("pos") + 1L).cast("long").as("rank"))
  }

  /** Fixed-size token chunking with overlap — the doc → training-example
    * splitter. Chunk i covers tokens [i·stride+1, i·stride+chunkSize]
    * (stride = chunkSize − overlap); a doc shorter than chunkSize yields
    * one whole-doc chunk, an empty doc none. Stateless projection +
    * posexplode — no shuffle, scales linearly with corpus bytes. All
    * index arithmetic is exact integer (`div` floors via greatest-0
    * clamp identically in Spark and the oracle). */
  def chunkDocs(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L),
          greatest(expr(s"(n - $chunkSize + $stride - 1) div $stride"), lit(0L))))
          .as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
            lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize.toLong), col("n") - col("chunk_id") * stride)
          .as("chunk_tokens"))
  }

  /** Exact discrete quantiles of the per-doc token count — the length
    * distribution a context-window / chunking policy is tuned against.
    * Computed on the VALUE DOMAIN, never the corpus: one hash aggregate
    * collapses 100 TB of docs to one row per distinct length, the
    * cumulative window runs over those few thousand rows (the single
    * window partition is bounded by the domain, not the data), and each
    * requested quantile q keeps the smallest length whose cumulative
    * count reaches q·N — the classic discrete quantile, expressible
    * identically in any engine (no interpolation, no floats). */
  def tokenQuantiles(docs: DataFrame,
                     quantilesPm: Seq[Int] = Seq(250, 500, 750)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    // running count AND grand total from the SAME single pass over the
    // per-length table (two frames on one window partition) — a
    // separate counts.agg(sum) branch would re-scan and re-tokenize the
    // whole corpus, since DataFrame reuse is not plan-level CSE
    val byLen = Window.orderBy("n_tokens")
    val cum = counts
      .withColumn("cum", sum("cnt").over(
        byLen.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("cnt").over(
        byLen.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum
      .select(col("n_tokens"), col("cum"), col("total"),
        explode(array(quantilesPm.map(lit): _*)).as("q_pm"))
      .filter(col("cum") * 1000L >= col("q_pm").cast("long") * col("total"))
      .groupBy("q_pm")
      .agg(min("n_tokens").as("value"))
  }

  /** Intra-document repetition profile — the boilerplate/templating
    * signal (nav bars, SEO spam, generated filler repeat the same
    * n-grams inside one doc). Per doc: total bigrams, distinct bigrams,
    * and the hottest bigram's count; `repetition_pm` =
    * 1000·(total−distinct)/total (0 = no repetition). One aggregation
    * keyed (doc_id, bigram) then a per-doc rollup — both shuffles slim
    * and partial-aggregated; the doc text itself never shuffles. */
  def docRepetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(bigrams(col("toks"))).as("ngram"))
      .groupBy("doc_id", "ngram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("total_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max("c").as("max_bigram_count"))
      .withColumn("repetition_pm",
        expr("(1000 * (total_bigrams - distinct_bigrams)) div total_bigrams"))

  /** Cross-corpus bigram commonness — the language-model-score proxy of
    * CCNet-style curation: a doc whose bigrams are common corpus-wide
    * reads like the corpus; a doc full of singleton bigrams is noise,
    * boilerplate-mangled, or another language. Complements
    * [[docRepetition]] (intra-doc) with the corpus-wide signal.
    *
    * `commonness_pm` = share (permille) of the doc's bigram occurrences
    * whose corpus document frequency ≥ `minDf`.
    *
    * Scale shape: per-doc bigram counts (slim partial-aggregated
    * shuffle, text never shuffles) feed BOTH sides — a self-aggregation
    * computes the df table, then a bigram-keyed hash join fans df back
    * out. The df side is one row per key, so even "of the"-grade hot
    * bigrams skew only the probe side, which AQE splits; no row
    * explosion is possible. The df table is data-sized — never
    * broadcast it. */
  def bigramCommonness(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(bigrams(col("toks"))).as("ngram"))
      .groupBy("doc_id", "ngram")
      .agg(count(lit(1)).as("c"))
    val df = perDoc.groupBy("ngram").agg(count(lit(1)).as("df"))
    perDoc
      .join(df, Seq("ngram"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("total_bigrams"),
        sum(when(col("df") >= minDf, col("c")).otherwise(0L))
          .as("common_bigrams"))
      .withColumn("commonness_pm",
        expr("(1000 * common_bigrams) div total_bigrams"))
  }

  /** Sketch-based quantiles — the companion scale path to
    * [[tokenQuantiles]] for when even the length-domain aggregate is
    * unwanted (e.g. quantiles over a high-cardinality measure where the
    * domain IS data-sized). `approx_percentile` merges bounded sketches
    * map-side; the sketch values are engine-specific, so the report
    * follows the invariant discipline: what crosses to the oracle is
    * the exact total and a 0/1 RANK-WINDOW verdict — the returned
    * value's true rank must sit within `tolPm` of the requested
    * quantile (`cnt_lt ≤ (q+tol)·N` and `cnt_le ≥ (q−tol)·N`, all
    * integer cross-multiplications). The check is agnostic to the
    * sketch's exact quantile definition — any correct approximate
    * percentile passes, any rank-violating one fails. GK at accuracy
    * 10 000 guarantees 0.1‰ rank error; the 10‰ default is a 100×
    * margin. */
  def tokenQuantilesApprox(docs: DataFrame, tolPm: Long = 10L): DataFrame = {
    val lens = docs
      .select(size(tokens(col("text"))).cast("long").as("n_tokens"))
    val counts = lens.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val apx = lens
      .agg(percentile_approx(col("n_tokens"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("vals"))
      .select(posexplode(col("vals")))
      .select(element_at(array(lit(250L), lit(500L), lit(750L)),
        col("pos").cast("int") + 1).as("q_pm"), col("col").as("v"))
    counts.join(broadcast(apx))
      .groupBy("q_pm")
      .agg(
        sum(when(col("n_tokens") < col("v"), col("cnt")).otherwise(0L))
          .as("cnt_lt"),
        sum(when(col("n_tokens") <= col("v"), col("cnt")).otherwise(0L))
          .as("cnt_le"),
        sum(col("cnt")).as("n_total"))
      .select(col("q_pm"), col("n_total"),
        when(col("cnt_lt") * 1000L <= (col("q_pm") + tolPm) * col("n_total") &&
          col("cnt_le") * 1000L >= (col("q_pm") - tolPm) * col("n_total"), 1L)
          .otherwise(0L).as("rank_ok"))
  }

  /** Per-language top-k docs by quality (quality desc, doc_id asc):
    * corpus curation's "keep the best k per stratum". Ranked with the
    * custom heap-per-key physical operator
    * ([[graft.plans.TopKPerKey]]), NOT a per-key window — a window
    * would funnel every profiled row of a language into one task's
    * sort; the two-phase heap exec ships ≤ k rows per (language,
    * partition) and sorts nothing. Quality stays the exact integer
    * permille end to end (no double round-trip). */
  def topQualityPerLang(docs: DataFrame, k: Int = 5): DataFrame =
    graft.plans.TopKPerKey.topK(
      docProfile(docs).select(col("pred_lang"), col("doc_id"), col("quality")),
      Seq("pred_lang"), "quality", "doc_id", k)

  /** Feature-hashing vectorizer (the "hashing trick"): each doc becomes
    * a dense `dim`-long integer count vector — slot d counts the
    * tokens whose polynomial hash lands in bucket d. No vocabulary to
    * build or broadcast, bounded memory per doc, and the exact integer
    * counts make the vectors oracle-reproducible. Output shape
    * (vec_id, qv) plugs straight into the quantized similarity stack
    * ([[Similarity.cosineTopKQ]]) — text-sourced vectors and embedding
    * vectors share one top-k/ANN implementation.
    *
    * Shuffle shape: (doc_id, bucket) partial counts hash-aggregate,
    * then ≤ dim entries per doc assemble via map lookup over a static
    * sequence — the `collect_list` is bounded by the PARAMETER dim,
    * never by document size. Token-less docs vanish (inner explode),
    * so every emitted vector has a positive norm. */
  def hashVectors(docs: DataFrame, dim: Int = 64): DataFrame =
    docs
      .select(col("doc_id"), tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"), explode(col("ths")).as("th"))
      .groupBy(col("doc_id"), pmod(col("th"), lit(dim.toLong)).as("d"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("d"), col("cnt"))))
        .as("m"))
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          d => coalesce(element_at(col("m"), d), lit(0L))).as("qv"))

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * bigrams whose corpus-wide first appearance (min doc_id) is this
    * doc. The redundancy dial of incremental curation — a doc whose
    * n-grams were all seen in earlier docs adds nothing even when no
    * dedup rule fires — and the document-grain complement of
    * [[bigramCommonness]]'s corpus-grain view.
    *
    * Bigrams travel as 8-byte polynomial shingle hashes (the MinHash
    * family's own k=2 grain), never as strings: both shuffles — the
    * first-seen min and the attribution join — move (hash, doc_id)
    * pairs only, keeping the dedup family's no-text-in-shuffles
    * discipline. Hash collisions merge grams ACROSS the whole corpus
    * deterministically (novelty is computed at hash grain, same
    * trade-off as [[graft.llm.Dedup]]'s sketches). Docs with < 2
    * tokens have no bigrams and drop. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val dg = docs
      .select(col("doc_id"), tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"),
        explode(shingleHashSetFromTokenHashes(col("ths"), 2)).as("sh"))
    val first = dg.groupBy("sh").agg(min("doc_id").as("first_doc"))
    dg.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        expr("(1000 * n_novel) div n_ngrams").as("novelty_pm"))
  }
}
