package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance similarity join — the string-metric member of the
  * dedup family: pairs of documents whose fixed-length title prefix is
  * within Levenshtein distance `d`, found WITHOUT the all-pairs cross
  * join (the classic q-gram filtered similarity join: Gravano et al.
  * 2001, "Approximate String Joins in a Database (Almost) for Free").
  *
  * Complements the set-similarity operators ([[Dedup.minhashDedup]],
  * [[Dedup.ngramJaccardPairs]]): Jaccard over token shingles is blind
  * to single-character typos inside tokens (a one-char edit replaces
  * every shingle that covers it), while edit distance is exactly the
  * typo metric — the near-dup signal for titles, URLs, product names
  * and other short keys.
  *
  * Candidate generation is EXACT (never misses a true pair) and uses
  * ED-Join-style PREFIX FILTERING (Xiao, Wang & Lin 2008, "Ed-Join:
  * an efficient algorithm for similarity joins with edit distance
  * constraints") so hot q-grams cannot blow up the join:
  *
  *  1. Pigeonhole: an edit destroys at most `q` of a string's
  *     positional q-grams and shifts survivors by at most `d`, so
  *     `ed(a,b) ≤ d` leaves a position-compatible (±d) gram matching
  *     of size ≥ `|Q| − d·q` — equivalently, among ANY `d·q + 1` of
  *     a's grams, one survives into b.
  *  2. Prefix filter: sort every string's grams by GLOBAL frequency
  *     (rarest first, ties on gram then position — one total order
  *     shared by all strings) and index only the first `d·q + 1`.
  *     Because a position-compatible matching on equal grams can
  *     always be rearranged order-preserving (if a₁<a₂ match b₂>b₁
  *     within ±d, then a₁–b₁ and a₂–b₂ are also within ±d), the
  *     classic prefix-filter theorem applies: a true pair has a
  *     matching gram inside BOTH prefixes. The join therefore
  *     touches `d·q + 1` rows per string — and they are each
  *     string's RAREST grams, so the per-gram fan-out is minimal by
  *     construction (a naive all-grams join on this corpus's shared
  *     title prefixes is quadratic in the hot grams; measured 121 s
  *     vs ~1 s at sf0.1).
  *  3. POSITION-BUCKETED join key (round-12): the ±d position guard
  *     moves INTO the join key — rows join on `(gram, pos div
  *     (d+1))`, one side emitting its own bucket and the other its
  *     bucket ±1 (any |Δpos| ≤ d pair lands in a neighbor bucket
  *     because the ±d interval spans < 2 bucket widths), and the
  *     exact |Δpos| ≤ d filter still runs post-join. Same survivors,
  *     but a hot gram's f² join fan-out splits across its position
  *     buckets: measured 22.4 M → 6.4 M join rows (3.5×) on the
  *     driver corpus at sf0.1, and the cut compounds at 100× where f
  *     grows with the corpus.
  *  4. GRAM-FREQUENCY CEILING (round-12): with `gramFreqCap` set,
  *     grams with global freq > cap are HOT and sort AFTER every
  *     sub-cap gram in the shared total order (hot-last is still one
  *     global total order, so the prefix theorem holds unchanged).
  *     A string whose `d·q + 1`-prefix stays sub-cap joins as usual —
  *     now with every per-(gram, bucket) fan-out ≤ cap, so its
  *     candidate count is bounded by `(d·q + 1) · 3 · cap` REGARDLESS
  *     of corpus size. A string whose prefix must include a hot gram
  *     (it has fewer than `d·q + 1` sub-cap grams) exits the gram
  *     join entirely and instead pairs against every title within
  *     ±d length (the length-banded fallback — exact trivially,
  *     bounded by `|unsafe| · (2d+1) · max-titles-per-length`). Any
  *     true pair has both sides safe (gram join catches it: both
  *     prefixes are sub-cap and share a matched gram), or at least
  *     one side unsafe (fallback catches it) — EXACT either way.
  *     The default cap (MaxValue) disables the split: every doc is
  *     safe and the plan is the pure bucketed prefix join.
  *  5. Content filter (Ed-Join's second move): a unit edit changes
  *     the count of at most 2 characters by 1, so `ed(a,b) ≤ d`
  *     implies the L1 distance of the char-frequency histograms is
  *     ≤ 2d — and restricting the histogram to any fixed charset
  *     only shrinks the L1, so the subset test stays a necessary
  *     condition. Counts come from the `len(s) − len(replace(s, c,
  *     ''))` trick (no regex), the compare is one zip_with fold —
  *     ~30 integer ops per pair vs ~1000 for the O(32²) DP.
  *     Measured on the driver corpus at sf0.1: 1.64 M prefix
  *     candidates → 1 474 survivors (the tiny synthetic vocabulary
  *     makes rare grams common, so the histogram does the real
  *     pruning there).
  *  6. Exact `levenshtein ≤ d` verifies the surviving distinct
  *     pairs — every stage passes a superset, never a miss.
  *
  * Scale shape: the wide join carries slim (doc_id, len, pos, gram)
  * prefix rows — q+ε bytes of gram, never the document. The global
  * gram-frequency table joins back gram-keyed (one row per key on
  * the build side); the per-doc rarest-k selection is a row_number
  * over ≤|title| rows per doc. The verify joins key on doc_id
  * against the titles projection, and the quadratic `levenshtein`
  * runs on prefix-survivors only.
  */
object EditDistance {

  /** Pairs of docs whose `titleLen`-char prefix is within edit
    * distance `d`, with the exact distance. Titles shorter than
    * `minLen` are out of scope (the count filter needs
    * `len − q + 1 > d·q` to have teeth; below that, share-nothing
    * pairs become possible and only a cross join is exact).
    * `gramFreqCap` bounds the per-gram join fan-out at scale — see
    * point 4 of the object doc; the default disables it. */
  def editDistancePairs(docs: DataFrame, d: Int = 2,
                        titleLen: Int = 32, minLen: Int = 8,
                        gramFreqCap: Long = Long.MaxValue): DataFrame = {
    val q = 2
    require(minLen - q + 1 > d * q,
      s"minLen=$minLen too small for exact q-gram filtering at d=$d")
    val titles = docs
      .select(col("doc_id"), expr(s"substring(text, 1, $titleLen)").as("title"))
      .filter(length(col("title")) >= minLen)
    import org.apache.spark.sql.expressions.Window
    val qg = titles
      .select(col("doc_id"), length(col("title")).as("len"),
        explode(expr("transform(sequence(1, length(title) - 1)," +
          " i -> struct(i AS pos, substring(title, i, 2) AS gram))")).as("pq"))
      .select(col("doc_id"), col("len"),
        col("pq.pos").as("pos"), col("pq.gram").as("gram"))
    val freq = qg.groupBy("gram").agg(count(lit(1)).as("freq"))
    // each string's d*q+1 globally-rarest grams under ONE shared total
    // order: (hot, freq, gram, pos) — hot-last, so a capped gram enters
    // a prefix only when the doc has no sub-cap alternative, which is
    // exactly the fallback criterion. With the cap disabled, hot is
    // constant-false and the order is the classic (freq, gram, pos).
    // localCheckpoint: both sides of the self-join read the SAME
    // materialized prefix set instead of recomputing the scan + gram
    // histogram + window lineage twice (the [[Bpe]] pattern; the set
    // is (d·q+1)·|corpus| slim rows — cluster-memory trivial).
    //
    // r18: the rarest-k selection routes through the custom
    // [[graft.plans.TopKPerKey]] operator instead of a row_number sort
    // window — a size-(d·q+1) HEAP per doc, O(n log k) with NO SortExec
    // over the 31·|corpus| gram rows (the r17 form paid a full
    // (doc, hot, freq, gram, pos) sort; guide §1.2 step 2: make the
    // per-task work cheap once the shape is right). The 4-component
    // order maps onto the operator's (primary DESC, tiebreak ASC)
    // contract as: primary = −(hot·2⁵¹ + min(freq, 2⁵⁰)) — freq
    // saturates at 2⁵⁰, which still yields ONE shared total gram order,
    // and exactness of prefix filtering needs only that all strings
    // share it, not which order it is (the final stage verifies exact
    // levenshtein either way); tiebreak = gram ∥ pos zero-padded to
    // the digit count of the largest pos (titleLen − 1), so every pos
    // renders at ONE width — grams are exactly two codepoints and UTF-8
    // codepoint encodings are prefix-free, so binary string order ≡
    // (gram, pos) and the tiebreak is key-unique (pos is unique per
    // doc).
    //
    // EXPLICIT-count repartition below the heap (r17's fix, kept): the
    // gram rows are bytes-tiny but CPU-carrying, and AQE's byte-based
    // coalescing would fold the heap/checkpoint stage to ONE task
    // (measured r17: a 1.5 s single-task job with 31 cores idle at
    // sf0.1 — guide §2.5's skew table reads bytes, not CPU). A
    // user-specified partition count is exempt, and
    // hashpartitioning(doc_id, cores) satisfies the operator's
    // ClusteredDistribution so no second exchange appears.
    val posDigits = math.max(1, titleLen - 1).toString.length
    val graded = qg.join(freq, "gram")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("hot", col("freq") > gramFreqCap)
      .withColumn("ordp", -(col("hot").cast("long") * lit(1L << 51) +
        least(col("freq"), lit(1L << 50))))
      .withColumn("tb",
        concat(col("gram"), lpad(col("pos").cast("string"), posDigits, "0")))
    val prefix = graft.plans.TopKPerKey
      .topK(graded, Seq("doc_id"), "ordp", "tb", d * q + 1)
      // a doc is UNSAFE iff its prefix had to include a hot gram; the
      // max rides the heap output's doc_id partitioning (no exchange)
      .withColumn("unsafe",
        max(col("hot")).over(Window.partitionBy("doc_id")))
      .select("doc_id", "len", "pos", "gram", "unsafe")
      .localCheckpoint()
    // bucketed self-join over the SAFE prefixes: key (gram, pos div
    // (d+1)), side A emitting bucket ±1 — any |Δpos| ≤ d partner lands
    // in a neighbor bucket; the exact guards re-filter post-join
    val safe = prefix.filter(!col("unsafe"))
      .withColumn("pb", floor(col("pos") / (d + 1)))
      .select("doc_id", "len", "pos", "gram", "pb")
    val candMain = safe
      .withColumn("pb", explode(array(col("pb") - 1, col("pb"), col("pb") + 1)))
      .toDF("doc_id_a", "len_a", "pos_a", "gram", "pb")
      .join(safe.toDF("doc_id_b", "len_b", "pos_b", "gram", "pb"),
        Seq("gram", "pb"))
      .filter(col("doc_id_a") < col("doc_id_b") &&
        abs(col("pos_a") - col("pos_b")) <= d &&
        abs(col("len_a") - col("len_b")) <= d)
      .select("doc_id_a", "doc_id_b")
    // length-banded fallback for the unsafe docs: every title within
    // ±d length is a candidate (a true pair can't differ by more), so
    // a pair with an unsafe side never depends on the gram join
    val unsafeDocs = prefix.filter(col("unsafe"))
      .select("doc_id", "len").distinct()
    val candFallback = unsafeDocs
      .withColumn("len", explode(sequence(col("len") - d, col("len") + d)))
      .toDF("u_id", "len")
      .join(titles.select(col("doc_id").as("o_id"),
        length(col("title")).as("len")), Seq("len"))
      .filter(col("u_id") =!= col("o_id"))
      .select(least(col("u_id"), col("o_id")).as("doc_id_a"),
        greatest(col("u_id"), col("o_id")).as("doc_id_b"))
    val cand = candMain.unionAll(candFallback).distinct()
    // char histogram per title (len − len(replace) count trick); the
    // zip_with L1 ≤ 2d test prunes before the quadratic DP
    val charset = ('a' to 'z') ++ Seq(' ') ++ ('0' to '9')
    val histExpr = s"array(${charset.map(c =>
      s"length(title) - length(replace(title, '$c', ''))").mkString(", ")})"
    val th = titles.select(col("doc_id"), col("title"),
      expr(histExpr).as("hist"))
      .localCheckpoint()
    cand
      .join(th.toDF("doc_id_a", "title_a", "hist_a"), "doc_id_a")
      .join(th.toDF("doc_id_b", "title_b", "hist_b"), "doc_id_b")
      .filter(aggregate(
        zip_with(col("hist_a"), col("hist_b"), (x, y) => abs(x - y)),
        lit(0), (acc, x) => acc + x) <= 2 * d)
      // bounded levenshtein (Spark 3.5+): the DP early-exits once the
      // banded minimum exceeds d (returns -1 above the threshold), so
      // far-apart survivors of the cheap filters don't pay the full
      // O(|a|·|b|) table — for kept pairs the bounded value IS exact
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("title_a"), col("title_b"), d).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Corpus with injected typo near-dups: every doc_id ≡ 0 (mod 10)
    * re-inserted under +400000 with ONE substituted character (at a
    * doc_id-dependent position), every doc_id ≡ 5 (mod 10) under
    * +600000 with TWO — exercising dist 1 and the d=2 boundary, on
    * top of the corpus's natural shared-prefix pairs at dist 0. */
  def withTypoDocs(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text")
      .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          expr("concat(substring(text, 1, 2 + doc_id % 7), 'q'," +
            " substring(text, 4 + doc_id % 7, length(text)))").as("text")))
      .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 5)
        .select((col("doc_id") + 600000L).as("doc_id"),
          expr("concat(substring(text, 1, 2), 'q', substring(text, 4, 9)," +
            " 'z', substring(text, 14, length(text)))").as("text")))
}
