package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import TextFns._

/** BPE tokenizer TRAINING and APPLICATION: learn the top byte-pair
  * (here: character-pair) merges of the corpus, then encode documents
  * with them — the tokenizer-lifecycle half next to
  * [[TextAnalysis.encodeDocs]] (which applies a word-level vocabulary).
  *
  * Classic formulation (Sennrich et al. 2016): operate on the WORD
  * COUNT table, not the raw corpus — each word is a symbol sequence
  * seeded with its characters, and every round (a) counts adjacent
  * symbol pairs weighted by word frequency, (b) picks the most
  * frequent pair (count desc, then lhs, then rhs in Spark's UTF-8
  * byte order — deterministic, and the order the DuckDB oracle's
  * `ORDER BY` uses), and (c) rewrites every word's sequence merging
  * that pair left-to-right non-overlapping.
  *
  * Scale shape: the corpus-sized work is the ONE distributed step, the
  * `groupBy(token)` building (token, cnt, chars) — a shuffle of
  * (token, count) partials. Its result has VOCABULARY size, so it is
  * collected once and every merge round runs in driver memory, the way
  * the reference `learn_bpe.py` and MLlib's `Word2Vec.learnVocab` keep
  * the vocabulary in one process: a pair → count map is built once and
  * each merge re-counts only the words that held the merged pair. A
  * Spark job per round (aggregate, limit-1 sort, collect) cost the same
  * wall time whether the table had 31 words or 31 million, and AQE split
  * each round into 2 jobs; now a training run is one job whatever the
  * budget. The learned rules and the final word table come back as
  * driver values — the table as a local `DataFrame`, so every apply
  * path plans its vocabulary side as a broadcast. Application
  * ([[encode]]) is one corpus scan joined against the final
  * (token → symbol count) table — no per-round work at all.
  */
object Bpe {

  /** One learned merge rule, harvested on the driver — the unit of the
    * train-once/apply-many lifecycle: [[learn]] produces them,
    * [[encodeWith]] replays them on ANY corpus. */
  final case class MergeRule(
    round: Int, lhs: String, rhs: String, pairCnt: Long)

  /** Train `rounds` merges: the learned rules (possibly fewer than
    * `rounds` when the corpus exhausts its learnable pairs — every
    * word a single symbol) plus the FINAL word table
    * (token, cnt, syms) after all rewrites, so [[encode]] can reuse it
    * instead of re-aggregating the corpus and re-applying the merges.
    * One Spark action, the corpus aggregate's collect; the rounds run
    * in [[train]]. */
  def learn(docs: DataFrame, rounds: Int): (Vector[MergeRule], DataFrame) = {
    require(rounds >= 1, "need at least one merge round")
    // no Tables.spread: an interleaved ABBA at sf0.1, local[4], 4 vCPUs,
    // measured a tie (medians of 4 runs: bpe_merges 0.72 s with,
    // 0.70 s without; bpe_merges_8 0.74 / 0.78 s)
    val counted = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .select(col("token"), col("cnt"), chars(col("token")).as("syms"))
    val rows = counted.collect()
    val words = rows.map(_.getSeq[String](2).toArray)
    val rules = train(words, rows.map(_.getLong(1)), rounds)
    (rules, local(counted, rows.indices.map(i =>
      Row(rows(i).getString(0), rows(i).getLong(1), words(i).toSeq))))
  }

  /** The BPE merge loop over `words` (symbol sequences, rewritten in
    * place) weighted by `cnts`: up to `rounds` rules, fewer when no
    * adjacent pair is left. Pair counts are kept incrementally — a
    * merge subtracts and re-adds the pairs of only the words that held
    * the merged pair (`holders`, which may keep stale entries; a
    * re-count of a word without the pair changes nothing). */
  private[llm] def train(words: Array[Array[String]], cnts: Array[Long],
                         rounds: Int): Vector[MergeRule] = {
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val holders = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def tally(i: Int, sign: Long): Unit = {
      val w = words(i)
      for (j <- 0 until w.length - 1) {
        val p = (w(j), w(j + 1))
        val c = pairCnt.getOrElse(p, 0L) + sign * cnts(i)
        if (c == 0L) pairCnt.remove(p) else pairCnt(p) = c
        if (sign > 0) holders.getOrElseUpdate(p, mutable.Set.empty) += i
      }
    }
    words.indices.foreach(tally(_, 1L))
    val learned = Vector.newBuilder[MergeRule]
    var round = 1
    while (round <= rounds && pairCnt.nonEmpty) {
      val ((lhs, rhs), n) = pairCnt.reduce((a, b) => if (ranksBefore(a, b)) a else b)
      learned += MergeRule(round, lhs, rhs, n)
      // a merged symbol lhs·rhs is longer than either side, so no word
      // holds (lhs, rhs) after its rewrite: the holder set retires
      holders.remove((lhs, rhs)).foreach(_.foreach { i =>
        tally(i, -1L)
        words(i) = mergePair(words(i), lhs, rhs)
        tally(i, 1L)
      })
      round += 1
    }
    learned.result()
  }

  /** Best-pair order: count desc, then lhs, then rhs, comparing strings
    * as Spark sorts them (UTF-8 bytes, i.e. code points) — NOT
    * `String.compareTo`, whose UTF-16 order puts a supplementary
    * character such as U+1F600 before U+FF41. */
  private def ranksBefore(a: ((String, String), Long),
                          b: ((String, String), Long)): Boolean =
    if (a._2 != b._2) a._2 > b._2
    else {
      val l = utf8Compare(a._1._1, b._1._1)
      if (l != 0) l < 0 else utf8Compare(a._1._2, b._1._2) < 0
    }

  private def utf8Compare(x: String, y: String): Int =
    UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** Left-to-right non-overlapping merge of adjacent (lhs, rhs). */
  private[llm] def mergePair(syms: Array[String], lhs: String,
                             rhs: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == lhs && syms(i + 1) == rhs) {
        out += lhs + rhs; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Driver rows as a local `DataFrame` with `like`'s schema — a
    * LocalRelation, which Catalyst sizes exactly and broadcasts when
    * small. */
  private def local(like: DataFrame, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  /** The first `rounds` learned merges: one row per round —
    * (round, lhs, rhs, merged, pair_cnt). A flat driver-built table. */
  def merges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learn(docs, rounds)._1
      .map(m => (m.round.toLong, m.lhs, m.rhs, m.lhs + m.rhs, m.pairCnt))
      .toDF("round", "lhs", "rhs", "merged", "pair_cnt")
  }

  /** Apply the learned merges to the corpus: per doc, the token count
    * and the symbol count after all `rounds` merges — the compression
    * accounting that decides whether a merge budget is worth shipping.
    * One corpus scan joined against the final (token → symbol count)
    * table from training (a local relation, broadcast); only
    * (doc_id, counts) reach the rollup. Docs whose text yields no
    * tokens vanish on both sides (inner explode ≡ the oracle's
    * unnest). */
  def encode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val encodedVocab = learn(docs, rounds)._2
      .select(col("token"), size(col("syms")).cast("long").as("token_syms"))
    // spread parallelizes the per-doc tokenize/explode/join over the
    // one-slice scan: interleaved ABBA at sf0.1, local[4], 4 vCPUs,
    // medians of 4 runs: bpe_encode 1.24 s with, 1.45 s without;
    // bpe_encode_8 1.28 / 1.48 s; by the two queries' sum, every run
    // without was slower than every run with
    graft.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        explode(col("toks")).as("token"))
      .join(encodedVocab, Seq("token"))
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum("token_syms").as("n_symbols"))
  }

  /** Per-source tokenizer fertility after the learned merges — the
    * "how well does this tokenizer fit each slice?" report a tokenizer
    * owner reads before shipping a merge budget: token, post-merge
    * symbol and character totals per source, plus two integer rates —
    * `syms_per_token_milli` (fertility: symbols the tokenizer spends
    * per whitespace word ×1000) and `compression_milli` (fraction of
    * raw characters surviving the merges ×1000). A slice whose
    * fertility stays near its character count got nothing out of the
    * merge table — the signal to retrain or re-balance.
    *
    * Scale shape: same as [[encode]] — training's one corpus-sized
    * word-count aggregate, then in-memory rounds; application is one
    * exploded scan joined against the (token → symbol count) vocab
    * (broadcast) collapsing straight to |sources| groups, with
    * per-(source, token) partial aggregation map-side. */
  def fertility(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val encodedVocab = learn(docs, rounds)._2
      .select(col("token"), size(col("syms")).cast("long").as("token_syms"))
    // no Tables.spread: an interleaved ABBA at sf0.1, local[4], 4 vCPUs,
    // measured a tie (medians of 4 runs: 1.75 s with, 1.81 s without;
    // each side won 2 of the 4 pairs)
    docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .join(encodedVocab, Seq("token"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum("token_syms").as("n_symbols"),
        sum(length(col("token"))).as("n_chars"))
      .select(col("source"), col("n_tokens"), col("n_symbols"), col("n_chars"),
        expr("(1000 * n_symbols) div n_tokens").as("syms_per_token_milli"),
        expr("(1000 * n_symbols) div n_chars").as("compression_milli"))
  }

  /** Replay learned merge rules, in training order, over the DISTINCT
    * tokens of `tokensDf` (collected; vocabulary-sized): each token
    * seeds its characters and folds [[mergePair]] over the rules. The
    * result is a local (token, syms) table. */
  private def replay(tokensDf: DataFrame, rules: Seq[MergeRule]): DataFrame = {
    val seeded = tokensDf.select(col("token"), chars(col("token")).as("syms"))
    local(seeded, seeded.collect().toSeq.map { r =>
      val syms = rules.foldLeft(r.getSeq[String](1).toArray)(
        (s, m) => mergePair(s, m.lhs, m.rhs))
      Row(r.getString(0), syms.toSeq)
    })
  }

  /** Apply an ALREADY-LEARNED tokenizer to a corpus — the
    * train-once/apply-many half of the lifecycle, where [[encode]]
    * retrains internally: rules (and optionally the training run's
    * final word table, from [[learn]]._2) come from corpus A, the
    * docs are corpus B. Tokens of B found in A's vocabulary reuse the
    * stored symbol sequences outright; unseen tokens seed their
    * characters and replay the rules — which yields EXACTLY the
    * stored sequences for known tokens too (training applied the same
    * merges in the same order), so the vocab is purely a
    * skip-the-replay optimization and `vocab = None` is bit-identical
    * (BpeSpec pins the equivalence).
    *
    * Scale shape matches [[encode]]: the corpus-sized work is one
    * tokenize scan and the final (token → symbol count) join; the
    * replay runs in driver memory over B's DISTINCT unseen tokens
    * only — vocabulary-bounded. */
  def encodeWith(docs: DataFrame, rules: Seq[MergeRule],
                 vocab: Option[DataFrame] = None): DataFrame = {
    // no Tables.spread on the distinct-token pass: an interleaved ABBA
    // at sf0.1, local[4], 4 vCPUs, measured a tie on bpe_encode_cross
    // (medians of 4 runs: 2.19 s with, 2.18 s without)
    val bTokens = docs.select(explode(tokens(col("text"))).as("token")).distinct()
    val tokenSyms = vocab match {
      case Some(v) =>
        val known = bTokens.join(v.select("token", "syms"), Seq("token"))
        known.unionByName(replay(
          bTokens.join(v.select("token"), Seq("token"), "left_anti"), rules))
      case None => replay(bTokens, rules)
    }
    val encodedVocab = tokenSyms
      .select(col("token"), size(col("syms")).cast("long").as("token_syms"))
    // spread: as in `encode`; bpe_encode_cross 2.12 s with, 2.35 s
    // without (interleaved ABBA at sf0.1, local[4], 4 vCPUs, medians of
    // 4 runs; with won 3 of the 4 pairs)
    graft.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        explode(col("toks")).as("token"))
      .join(encodedVocab, Seq("token"))
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum("token_syms").as("n_symbols"))
  }

  /** The cross-corpus lifecycle as one query: learn the merges on the
    * even-doc_id half of the corpus, apply them (reusing the trained
    * word table) to the odd half — proof that a learned tokenizer
    * transfers, with the transfer itself oracle-checked. */
  def encodeCross(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (rules, trained) =
      learn(docs.filter(pmod(col("doc_id"), lit(2)) === 0), rounds)
    encodeWith(docs.filter(pmod(col("doc_id"), lit(2)) === 1), rules,
      Some(trained))
  }
}
