package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, length, size, sum}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("BPE merges reproduce the classic low/lower/lowest example") {
    val docs = Seq((0L, "low low low"), (1L, "lower lowest"))
      .toDF("doc_id", "text")
    val got = Bpe.merges(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    // r1: l·o and o·w tie at 5 → lexicographic picks (l,o); r2 merges
    // lo·w at 5; r3 low·e at 2 (lower + lowest)
    assert(got.toSeq == Seq(
      (1L, "l", "o", "lo", 5L),
      (2L, "lo", "w", "low", 5L),
      (3L, "low", "e", "lowe", 2L)))
  }

  test("merge rewrite is left-to-right non-overlapping (a a a a -> aa aa)") {
    // merging (a,a): four a's collapse pairwise, three leave a tail 'a'
    val docs = Seq((0L, "aaaa aaaa aaa")).toDF("doc_id", "text")
    // 'aaaa' and 'aaa' are words of a-chars; round 1 best pair is (a,a)
    val got = Bpe.merges(docs, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
      .sortBy(_._1)
    // r1 pairs: 'aaaa'×2 → 3 each = 6, 'aaa' → 2; (a,a) cnt 8
    assert(got(0) == ((1L, "a", "a", 8L)))
    // after rewrite: aaaa→[aa,aa] (non-overlap!), aaa→[aa,a]
    // r2 pairs: (aa,aa)×2=2, (aa,a)×1=1 → best (aa,aa) cnt 2
    assert(got(1) == ((2L, "aa", "aa", 2L)))
  }

  test("single-char and unique words contribute no pairs but survive rewrites") {
    val docs = Seq((0L, "x x x y z ab ab")).toDF("doc_id", "text")
    val got = Bpe.merges(docs, rounds = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == Seq(("a", "b", 2L)))
  }

  test("encode applies the learned merges: low/lower/lowest compresses as expected") {
    val docs = Seq((0L, "low low low"), (1L, "lower lowest"))
      .toDF("doc_id", "text")
    val got = Bpe.encode(docs, rounds = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_symbols")))).toMap
    // merges: lo, low, lowe. doc 0: 3×"low" → [low] each = 3 symbols.
    // doc 1: "lower" → [lowe, r] (2), "lowest" → [lowe, s, t] (3) = 5.
    assert(got == Map(0L -> ((3L, 3L)), 1L -> ((2L, 5L))))
  }

  test("mergePair equals a reference left-to-right scan on adversarial sequences") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // alphabet engineered so merged symbols collide with existing ones
    // (merging (a,a) yields "aa" which is itself a symbol, etc.)
    val sym = Gen.oneOf("a", "b", "aa", "ab", "ba")
    val seqGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, sym))
    val samples = Gen.listOfN(400, seqGen)
      .apply(Gen.Parameters.default, Seed(91L)).get
    for ((l, r) <- Seq(("a", "a"), ("a", "b"), ("aa", "a"), ("b", "aa"));
         s <- samples) {
      val got = Bpe.mergePair(s.toArray, l, r).toList
      assert(got == BpeSpec.refMerge(s, l, r),
        s"pair ($l,$r) diverged on $s: $got vs ${BpeSpec.refMerge(s, l, r)}")
    }
  }

  test("incremental pair counting learns the naive per-round recount's rules") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random weighted corpora on {a, b, c}: short words over a tiny
    // alphabet repeat pairs across words and within one word, so
    // merges overlap, chain, and tie on count
    val word = Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    val corpus = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.zip(word, Gen.choose(1L, 5L))))
    val samples = Gen.listOfN(300, Gen.zip(corpus, Gen.choose(1, 12)))
      .apply(Gen.Parameters.default, Seed(913L)).get
    samples.foreach { case (ws, rounds) =>
      val words = ws.map(_._1.toArray).toArray
      val got = Bpe.train(words, ws.map(_._2).toArray, rounds)
        .map(m => (m.round, m.lhs, m.rhs, m.pairCnt))
      val (want, wantWords) = BpeSpec.naiveTrain(ws, rounds)
      assert(got == want, s"rules diverged on $ws ($rounds rounds)")
      assert(words.map(_.toList).toList == wantWords, s"words diverged on $ws")
    }
  }

  test("best-pair ties break in Spark's UTF-8 byte order, not String.compareTo") {
    // (ａ,b) and (😀,b) tie at 2. UTF-8 puts U+FF41 (EF BD A1) before
    // U+1F600 (F0 9F 98 80); UTF-16 code units put the surrogate
    // D83D before FF41, so String.compareTo would pick (😀,b)
    val docs = Seq((0L, "ａb ａb 😀b 😀b")).toDF("doc_id", "text")
    assert(Bpe.learn(docs, rounds = 1)._1 ==
      Vector(Bpe.MergeRule(1, "ａ", "b", 2L)))
  }

  test("learn runs the same number of Spark jobs for 1 and 16 rounds") {
    // the abcdefghijkl corpus supports 11 merges, so rounds=16 learns
    // all 11 and stops; every round runs in driver memory, so the
    // budget adds no job
    val docs = Seq((0L, "abcdefghijkl abcdefghijkl")).toDF("doc_id", "text")
    def jobsOf(rounds: Int): (Int, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val learned = Bpe.learn(docs, rounds)._1.length
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        (learned, jobs.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (one, jobsOne) = jobsOf(1)
    val (all, jobsAll) = jobsOf(16)
    assert(one == 1 && all == 11)
    assert(jobsOne > 0)
    assert(jobsAll == jobsOne, s"rounds=16 ran $jobsAll jobs, rounds=1 ran $jobsOne")
  }

  test("merges and encode survive a corpus whose merges exhaust before the budget") {
    // one learnable merge: after (a,b)->ab every word is a single
    // symbol, so rounds 2-3 have empty pair tables. The empty best
    // must act as an identity rewrite (left join on true), not
    // annihilate the vocabulary through a cross join.
    val docs = Seq((0L, "ab ab")).toDF("doc_id", "text")
    val m = Bpe.merges(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq((1L, "ab", 2L)))
    val e = Bpe.encode(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_symbols")))
    assert(e.toSeq == Seq((0L, 2L, 2L)))
  }

  test("exhaustion past a checkpoint boundary: 11 learnable merges under a 16 budget") {
    // "abcdefghijkl" folds left one pair per round ((a,b) wins the
    // all-tied round 1 lexicographically, then (ab,c) < (c,d), ...)
    // and collapses to one symbol after 11 merges — past round 8 (once
    // a localCheckpoint boundary), before the budget. The empty round
    // 12 must stop training without disturbing the final word table.
    val docs = Seq((0L, "abcdefghijkl abcdefghijkl")).toDF("doc_id", "text")
    val m = Bpe.merges(docs, rounds = 16).collect()
      .map(r => (r.getLong(0), r.getString(3))).sortBy(_._1)
    assert(m.length == 11, s"expected 11 merges, got ${m.length}")
    assert(m.last == ((11L, "abcdefghijkl")))
    val e = Bpe.encode(docs, rounds = 16).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_symbols")))
    assert(e.toSeq == Seq((0L, 2L, 2L)))
  }

  test("a rounds=64 merge budget trains in bounded time with flat-depth plans") {
    // The scale edge from round 4: rounds used to compose lazily, so
    // plan depth grew linearly with the merge budget and `merges`
    // replayed O(rounds²) shared-lineage work. Now every round runs in
    // driver memory over the collected word table, so a 64-round
    // budget must (a) learn 64 rules on a real corpus and (b) leave a
    // final word table whose plan is a CONSTANT-depth tree (a local
    // relation) — no deeper than a tiny budget's.
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory,
      "driver testdata not present")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.logical.foreach(_ => n += 1)
      n
    }
    val (rulesSmall, wSmall) = Bpe.learn(docs, 2)
    assert(rulesSmall.length == 2)
    val (rules, w) = Bpe.learn(docs, 64)
    assert(rules.length == 64, "sf0.01 corpus must support 64 merges")
    assert(rules.map(_.round) == (1 to 64).toVector)
    // every rule is a genuine pair over previously-built symbols
    assert(rules.forall(m => m.lhs.nonEmpty && m.rhs.nonEmpty && m.pairCnt > 0))
    // flat depth: the final table is a leaf whatever the budget —
    // no larger a plan than after 2 rounds, and bounded tight in
    // absolute terms
    assert(planNodes(w) <= planNodes(wSmall),
      s"rounds=64 plan (${planNodes(w)} nodes) grew past rounds=2 (${planNodes(wSmall)})")
    assert(planNodes(w) <= 12, s"final word table plan not flat: ${planNodes(w)} nodes")
    // and the learned rules are usable: total symbol count strictly
    // shrinks vs the character baseline
    val shrunk = w.select(sum(size(col("syms")) * col("cnt"))).collect()(0).getLong(0)
    val baseline = w.select(sum(length(col("token")) * col("cnt"))).collect()(0).getLong(0)
    assert(shrunk < baseline, s"64 merges must compress: $shrunk vs $baseline")
  }

  test("encodeWith: vocab reuse is bit-identical to full rule replay on a new corpus") {
    // train on A; apply to B, which shares some tokens with A (vocab
    // path) and introduces unseen ones (replay path). The two paths
    // must agree exactly — the invariant that makes the stored vocab a
    // pure optimization.
    val a = Seq((0L, "low low low lower"), (2L, "lowest low")).toDF("doc_id", "text")
    val b = Seq((1L, "low lowly slow"), (3L, "glow lower")).toDF("doc_id", "text")
    val (rules, trained) = Bpe.learn(a, rounds = 3)
    assert(rules.nonEmpty)
    val withVocab = Bpe.encodeWith(b, rules, Some(trained)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val replayed = Bpe.encodeWith(b, rules, None).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(withVocab.toSeq == replayed.toSeq)
    // merges learned on A really transfer: 'slow'/'glow' contain the
    // learned 'low' merge chain, so they compress below char count
    val byDoc = withVocab.map(t => t._1 -> t._3).toMap
    assert(byDoc(1L) < "lowlowlyslow".length)
  }

  test("encodeCross matches learn-then-encodeWith composed by hand") {
    val docs = Seq(
      (0L, "low low lower"), (1L, "low lowest"),
      (2L, "lower lowest low"), (3L, "slow glow low")).toDF("doc_id", "text")
    val got = Bpe.encodeCross(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // only odd docs in the output
    assert(got.map(_._1).toSeq == Seq(1L, 3L))
    val (rules, trained) = Bpe.learn(
      docs.filter(col("doc_id") % 2 === 0), rounds = 3)
    val manual = Bpe.encodeWith(
      docs.filter(col("doc_id") % 2 === 1), rules, Some(trained)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == manual.toSeq)
  }

  test("encode drops token-less docs on both sides and counts unmergeable chars") {
    val docs = Seq((0L, "  "), (1L, "zq zq")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, rounds = 1).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_symbols")))).toMap
    // doc 0 has no tokens → absent; merge (z,q) → each "zq" = 1 symbol
    assert(got == Map(1L -> ((2L, 2L))))
  }

  test("fertility: hand-computed per-source symbols, chars, and rates") {
    // tokens: ab x3, cd x1 -> round 1 merges (a,b)
    // vocab after: ab = 1 symbol, cd = 2 symbols
    val docs = Seq(
      (0L, "A", "ab ab"), (1L, "B", "ab cd")).toDF("doc_id", "source", "text")
    val got = Bpe.fertility(docs, rounds = 1).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_symbols"),
          r.getAs[Long]("n_chars"), r.getAs[Long]("syms_per_token_milli"),
          r.getAs[Long]("compression_milli")))).toMap
    assert(got("A") == ((2L, 2L, 4L, 1000L, 500L)))
    assert(got("B") == ((2L, 3L, 4L, 1500L, 750L)))
  }

  test("fertility on driver corpus: rolls up exactly to the per-doc encode totals") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory,
      "driver testdata not present")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Bpe.fertility(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_symbols") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("n_symbols") >= r.getAs[Long]("n_tokens"))
    }
    // same tokenizer, different rollup axis -> identical grand totals
    val enc = Bpe.encode(docs).agg(
      sum("n_tokens"), sum("n_symbols")).collect().head
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == enc.getLong(0))
    assert(rows.map(_.getAs[Long]("n_symbols")).sum == enc.getLong(1))
  }
}

object BpeSpec {
  /** Reference left-to-right non-overlapping merge. */
  def refMerge(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** Textbook BPE: recount every pair of every word each round. The
    * alphabet is ASCII, where String order is UTF-8 byte order. Returns
    * (round, lhs, rhs, count) rules and the final words. */
  def naiveTrain(corpus: List[(List[String], Long)], rounds: Int)
      : (Vector[(Int, String, String, Long)], List[List[String]]) = {
    var ws = corpus
    val rules = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val counts = ws.flatMap { case (s, c) => s.zip(s.drop(1)).map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        rules += ((round, l, r, n))
        ws = ws.map { case (s, c) => (refMerge(s, l, r), c) }
        round += 1
      }
    }
    (rules.result(), ws.map(_._1))
  }
}
