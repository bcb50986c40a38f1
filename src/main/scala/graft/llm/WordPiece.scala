package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy longest-match encoding (Wu et al. 2016,
  * "Google's Neural Machine Translation System", §3.1; the
  * BERT-tokenizer apply algorithm) over the SAME learned vocabulary
  * as the BPE path: vocab = every single character of the training
  * corpus plus each merge's output string ([[Bpe]] rounds 1..R). The
  * two encoders therefore answer the same vocab-budget question with
  * the two industrial algorithms — BPE replays merge HISTORY in
  * order, WordPiece ignores history and greedily takes the longest
  * vocab piece at each position — and `wordpiece_encode_8` vs
  * `bpe_encode_8` diff directly (same corpus, same 8-round vocab).
  * Two variants: [[encode]] keeps ONE flat piece vocabulary (the
  * round-12 simplification, kept with its oracle), and [[encodeBert]]
  * implements BERT's real `##` continuation namespace (word-initial
  * vs continuation pieces, whole-word [UNK]) with [[fertilityDiff]]
  * quantifying what the namespace discipline costs in pieces.
  *
  * Greedy-per-word is inherently sequential, which is exactly why it
  * is worth showing relationally: the engine computes, for every
  * DISTINCT word and every start position, the longest vocab piece
  * starting there — an (explode positions × lengths) → vocab
  * equi-join → max aggregate, all data-parallel — and only the final
  * chain-follow runs as a per-word `aggregate` fold over a
  * `length(word)`-step sequence with O(1) map lookups (each step
  * advances ≥ 1, so `length` steps always suffice; a character with
  * no vocab match — impossible when train ⊇ apply, possible under a
  * split — advances 1 and counts in `n_unk`). Per-word work is
  * O(len·maxPieceLen) candidate substrings (lengths beyond the
  * vocabulary's longest piece can never match, so the explode is
  * bounded by it — exact, not approximate), on the DISTINCT
  * vocabulary only;
  * occurrences join the encoded vocabulary afterward — the same
  * distinct-then-join shape as [[Bpe.fertility]], so a 100 TB corpus
  * pays the quadratic only on its (bounded) word list, never per
  * occurrence. The DuckDB oracle follows the identical chain with a
  * recursive CTE — same math, the sequential spelling.
  */
object WordPiece {

  /** The flat piece vocabulary learned by [[Bpe]] (corpus characters
    * ∪ merge outputs), the distinct TRAINING word list, and the
    * vocabulary's longest piece — the three ingredients every encode
    * variant needs, from ONE training run. The longest piece comes
    * from the rules on the driver: character pieces are one code point
    * each (Spark's `split(t, '')` keeps surrogate pairs whole), so it is
    * the longest merge output in code points — what Spark's `length`
    * counts — or 1 with no rules. */
  private[llm] def vocabAndWords(trainDocs: DataFrame,
                                 rounds: Int): (DataFrame, DataFrame, Int) = {
    val spark = trainDocs.sparkSession
    import spark.implicits._
    val (rules, wordTable) = Bpe.learn(trainDocs, rounds)
    // characters come from the LEARNED word table (a vocab-sized local
    // relation) — not from a second tokenize pass over the corpus.
    // One distinct over the union — the inner per-branch distincts the
    // r14 version ran were redundant shuffles; and wordTable is keyed
    // by token (learn's groupBy), so its token column IS distinct
    val chars = wordTable
      .select(explode(split(col("token"), "")).as("piece"))
      .filter(length(col("piece")) > 0)
    val mergedPieces = rules.map(r => r.lhs + r.rhs)
    val maxLen = mergedPieces.map(p => p.codePointCount(0, p.length)).foldLeft(1)(_ max _)
    (chars.union(mergedPieces.toDF("piece")).distinct(), wordTable.select("token"), maxLen)
  }

  /** Longest piece in an arbitrary vocabulary — the substring
    * explode's length bound for the helpers that take one (the
    * registry paths get it from [[vocabAndWords]] without a job). One
    * scalar collect; empty vocab ⇒ 1 so `sequence` stays valid. */
  private[llm] def pieceMaxLen(pieces: DataFrame): Int =
    pieces.agg(coalesce(max(length(col("piece"))), lit(1)))
      .head().getInt(0).max(1)

  /** Every (position, length ≤ maxLen) substring of every distinct
    * word: (token, p, l, piece) — the shared candidate table under
    * both the flat and the namespaced longest-match. `maxLen` is the
    * vocabulary's longest piece: a candidate longer than every vocab
    * piece can never survive the vocab join, so the bound is exact —
    * and it changes the explode's asymptotics from O(len²) per word
    * to O(len·maxLen). An R-round BPE vocab has only R multi-char
    * pieces, so maxLen is tiny (≤ R+1) while words run 20+ chars:
    * measured 2.7 s → 1.3 s on `wordpiece_encode_8` at sf0.1. */
  private def substrings(words: DataFrame, maxLen: Int): DataFrame =
    words
      .select(col("token"), explode(sequence(lit(0), length(col("token")) - 1)).as("p"))
      .select(col("token"), col("p"),
        explode(sequence(lit(1),
          least(length(col("token")) - col("p"), lit(maxLen)))).as("l"))
      .select(col("token"), col("p"),
        expr("substring(token, p + 1, l)").as("piece"), col("l"))

  /** Greedy longest-match encode of every distinct word against a
    * piece vocabulary: one row per word with its piece count and
    * unmatched-character count. */
  private[llm] def encodeWords(words: DataFrame, pieces: DataFrame): DataFrame =
    encodeWordsFrom(substrings(words, pieceMaxLen(pieces)), words, pieces)

  /** [[encodeWords]] from a prebuilt candidate table — the entry point
    * for callers that share one substring explode across encoder
    * variants ([[fertilityDiff]]). */
  private def encodeWordsFrom(cands: DataFrame, words: DataFrame,
                              pieces: DataFrame): DataFrame = {
    // candidates kept iff in vocab; longest match per position
    val longest = cands.join(pieces, "piece")
      .groupBy("token", "p").agg(max("l").as("adv"))
    // per-word step map, then the greedy chain as a length-bounded fold
    val steps = longest.groupBy("token")
      .agg(map_from_entries(collect_list(struct(col("p"), col("adv"))))
        .as("steps"))
    words.join(steps, Seq("token"), "left")
      .select(col("token"), expr(
        """aggregate(
          |  sequence(1, length(token)),
          |  named_struct('pos', 0, 'pieces', 0L, 'unks', 0L),
          |  (acc, i) -> CASE WHEN acc.pos >= length(token) THEN acc
          |    ELSE named_struct(
          |      'pos', acc.pos + coalesce(element_at(steps, acc.pos), 1),
          |      'pieces', acc.pieces +
          |        IF(element_at(steps, acc.pos) IS NULL, 0L, 1L),
          |      'unks', acc.unks +
          |        IF(element_at(steps, acc.pos) IS NULL, 1L, 0L)) END)
          |""".stripMargin).as("acc"))
      .select(col("token"), col("acc.pieces").as("pieces"),
        col("acc.unks").as("unks"))
  }

  /** Per-document WordPiece encode stats over the [[Bpe]]-learned
    * vocabulary: whitespace token count, total greedy piece count and
    * unmatched-character count (0 when the vocab was trained on the
    * same corpus — every character is a piece). Token-less docs drop,
    * matching [[Bpe.encode]]. */
  def encode(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val (pieces, words, maxLen) = vocabAndWords(docs, rounds)
    // train == apply here, so the distinct word list IS the learned
    // word table — no second corpus-sized distinct. The apply side is
    // [[Bpe.encode]]'s exact shape: one exploded corpus scan,
    // broadcast-joined against the vocab-bounded per-word encode
    // table, collapsing straight into the per-doc aggregate — the
    // r14 version's intermediate (doc_id, token) tf-grouping was a
    // second corpus-sized shuffle buying nothing the broadcast join
    // didn't already give (measured: 12 → 7 post-learn jobs, and the
    // extra shuffle is exactly what failed to transfer to the slower
    // driver host).
    applyScan(docs, encodeWordsFrom(substrings(words, maxLen), words, pieces))
      .groupBy("doc_id")
      .agg(max("n_toks").as("n_tokens"),
        sum("pieces").as("n_pieces"),
        sum("unks").as("n_unk"))
  }

  /** The shared apply-side scan: every (doc, token) occurrence of
    * `docs`, carrying the doc's total token count, inner-joined
    * against a per-word `encoded` table (vocab-bounded ⇒ broadcast).
    * Token-less docs drop here, matching [[Bpe.encode]]. */
  private def applyScan(docs: DataFrame, encoded: DataFrame): DataFrame =
    // spread: the tokenize/explode otherwise runs on the raw scan's
    // task count — ONE on the driver-layout tables (guide §2.5; the
    // r17 LangModel precedent); identity on multi-split layouts
    graft.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        explode(col("toks")).as("token"))
      .join(encoded, Seq("token"))

  // ---- the BERT `##` continuation namespace --------------------------
  //
  // Real WordPiece (the BERT tokenizer, Wu et al. §3.1) keeps TWO piece
  // namespaces: word-initial pieces and `##`-prefixed continuation
  // pieces, and a position's longest match may only use the namespace
  // its position belongs to. The flat variant above deliberately
  // collapses them (documented + oracle-pinned); this half closes the
  // gap. The namespaces DERIVE from the training corpus the same way
  // BERT's vocab builder attests them: a piece is available
  // word-initially iff it occurs as a PREFIX of some training word,
  // and as a continuation iff it occurs at a non-zero position of some
  // training word. UNK follows BERT's whole-word rule (`is_bad`): a
  // word with ANY unmatched position encodes as a single [UNK] piece,
  // not per-character unks.

  /** (piece, ns) rows of the namespaced vocabulary: ns = 0 for
    * word-initial availability, 1 for `##`-continuation. Derived by
    * joining the flat vocab against the training words' substring
    * attestations — the same distinct-word O(len²) candidate table the
    * encoder itself uses, so the derivation adds one slim join, never
    * a corpus pass. */
  private[llm] def namespacedVocab(trainWords: DataFrame,
                                   flat: DataFrame): DataFrame =
    namespacedVocabBounded(trainWords, flat, pieceMaxLen(flat))

  private def namespacedVocabBounded(trainWords: DataFrame, flat: DataFrame,
                                     maxLen: Int): DataFrame =
    substrings(trainWords, maxLen).join(flat, "piece")
      .select(col("piece"),
        when(col("p") === 0, 0).otherwise(1).as("ns"))
      .distinct()

  /** Greedy longest-match under the namespaces: position 0 may only
    * match word-initial pieces, positions > 0 only continuations; any
    * unmatched position turns the WHOLE word into one [UNK]
    * (pieces = 1, unk_words = 1) — BERT's `is_bad` contract. */
  private[llm] def encodeWordsBert(words: DataFrame,
                                   nsVocab: DataFrame): DataFrame =
    encodeWordsBertFrom(substrings(words, pieceMaxLen(nsVocab)), words, nsVocab)

  /** [[encodeWordsBert]] from a prebuilt candidate table (shared with
    * the flat encoder in [[fertilityDiff]]). */
  private def encodeWordsBertFrom(cands0: DataFrame, words: DataFrame,
                                  nsVocab: DataFrame): DataFrame = {
    val cands = cands0
      .withColumn("ns", when(col("p") === 0, 0).otherwise(1))
    val longest = cands.join(nsVocab, Seq("piece", "ns"))
      .groupBy("token", "p").agg(max("l").as("adv"))
    val steps = longest.groupBy("token")
      .agg(map_from_entries(collect_list(struct(col("p"), col("adv"))))
        .as("steps"))
    // same length-bounded fold as the flat path, with a sticky `bad`
    // flag instead of per-character unk advancement
    words.join(steps, Seq("token"), "left")
      .select(col("token"), expr(
        """aggregate(
          |  sequence(1, length(token)),
          |  named_struct('pos', 0, 'pieces', 0L, 'bad', false),
          |  (acc, i) -> CASE
          |    WHEN acc.bad OR acc.pos >= length(token) THEN acc
          |    WHEN element_at(steps, acc.pos) IS NULL THEN
          |      named_struct('pos', acc.pos, 'pieces', acc.pieces,
          |                   'bad', true)
          |    ELSE named_struct(
          |      'pos', acc.pos + element_at(steps, acc.pos),
          |      'pieces', acc.pieces + 1L, 'bad', false) END)
          |""".stripMargin).as("acc"))
      .select(col("token"),
        when(col("acc.bad"), 1L).otherwise(col("acc.pieces")).as("pieces"),
        when(col("acc.bad"), 1L).otherwise(lit(0L)).as("unk_words"))
  }

  /** Per-document BERT-namespaced WordPiece encode of `applyDocs`
    * under a vocabulary (and its namespaces) learned on `trainDocs`:
    * token count, piece count (an [UNK] word contributes exactly 1),
    * and whole-word UNK count.
    *
    * The namespace only BINDS on held-out text — on train == apply it
    * is provably inert: any substring the flat walk matches at
    * position p of word w is attested at p's own position class BY w
    * ITSELF (w is a training word), so the namespaced longest match
    * equals the flat one at every position and the two walks coincide
    * (WordPieceSpec pins the coincidence). The registry query is
    * therefore CROSS-corpus (train even doc_ids, apply odd, the
    * [[Bpe.encodeCross]] split): there an apply word's substring may
    * be unattested at its class — a merge output seen only mid-word
    * cannot match word-initially and vice versa — which is exactly
    * the discipline BERT's `##` namespace imposes, and
    * [[fertilityDiff]] prices. */
  def encodeBert(trainDocs: DataFrame, applyDocs: DataFrame,
                 rounds: Int): DataFrame = {
    val (flat, trainWords, maxLen) = vocabAndWords(trainDocs, rounds)
    val words = applyWords(applyDocs)
    applyScan(applyDocs,
        encodeWordsBertFrom(substrings(words, maxLen), words,
          namespacedVocabBounded(trainWords, flat, maxLen)))
      .groupBy("doc_id")
      .agg(max("n_toks").as("n_tokens"),
        sum("pieces").as("n_pieces"),
        sum("unk_words").as("n_unk_words"))
  }

  /** Distinct words of the APPLY corpus — the one corpus-sized
    * distinct a cross-corpus encode cannot avoid (the train-side word
    * list is free from [[Bpe.learn]]'s table, but held-out words need
    * their own pass). */
  private def applyWords(applyDocs: DataFrame): DataFrame =
    graft.Tables.spread(applyDocs.select(col("text")))
      .select(explode(TextFns.tokens(col("text"))).as("token")).distinct()

  /** Corpus-level comparison of the two WordPiece variants on the
    * same held-out split and ONE shared training run (vocab learned
    * once, feeds both encoders): total tokens, pieces and unks under
    * the flat vocab (per-character unk advancement) vs the
    * `##`-namespaced one (whole-word [UNK]), per-variant fertility
    * (pieces per 1000 tokens), and the namespace overhead in permille
    * — the price BERT's positional discipline pays in sequence
    * length, UNK-policy effect included (the honest comparison of the
    * two deployable tokenizers). Both variants' per-word results join
    * into ONE vocab-bounded encode table first, so the corpus pays a
    * single exploded scan and a single global aggregate — the r14
    * version ran the corpus join+aggregate twice and then glued the
    * halves with a 1-row BNL join; the substring candidate table is a
    * byte-identical subtree under both variants, deduplicated by
    * ReusedExchange (measured FASTER than an explicit persist — the
    * cache's serialize/store cost exceeds the recompute). */
  def fertilityDiff(trainDocs: DataFrame, applyDocs: DataFrame,
                    rounds: Int): DataFrame = {
    val (flat, trainWords, maxLen) = vocabAndWords(trainDocs, rounds)
    val words = applyWords(applyDocs)
    val cands = substrings(words, maxLen)
    val enc = encodeWordsFrom(cands, words, flat)
      .select(col("token"), col("pieces").as("fp"), col("unks").as("fu"))
      .join(encodeWordsBertFrom(cands, words,
          namespacedVocabBounded(trainWords, flat, maxLen))
        .select(col("token"), col("pieces").as("bp"),
          col("unk_words").as("buw")),
        Seq("token"))
    applyScan(applyDocs, enc)
      .agg(count(lit(1)).as("n_tokens"),
        sum("fp").as("flat_pieces"),
        sum("fu").as("flat_unks"),
        sum("bp").as("bert_pieces"),
        sum("buw").as("n_unk_words"))
      .select(col("n_tokens"), col("flat_pieces"), col("flat_unks"),
        col("bert_pieces"), col("n_unk_words"),
        expr("(1000 * flat_pieces) div n_tokens").as("flat_fertility_milli"),
        expr("(1000 * bert_pieces) div n_tokens").as("bert_fertility_milli"),
        expr("(1000 * bert_pieces) div flat_pieces").as("overhead_pm"))
  }
}
