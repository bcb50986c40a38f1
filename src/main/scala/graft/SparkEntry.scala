package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Country, Sentiment}
import graft.functions.FixedPoint.units
import graft.llm.{AnnIndex, Classifier, Dedup, EditDistance, LangModel, LshIndex, Multimodal, Packing, Pipeline, Retrieval, SetSimJoin, Similarity, TextAnalysis}
import graft.model.WireCodec
import graft.ops.{Ranges, Relational, Skyline, TrendPipeline, Windows}
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query over the driver's parquet tables, with equivalent DuckDB SQL in
  * [[Oracles]]. Column names/aliases are identical on both sides (the
  * driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** NOTE on [[Tables.spread]] (the under-split guard, guide §2.5):
    * it is applied SURGICALLY inside the few operators whose map-side
    * derivation dominates (LangModel n-gram trainers, Dedup.shingleSets)
    * — NOT here for every docs consumer. The same-session A/B of a
    * blanket docs-level spread measured a net LOSS: every broadcast
    * build over docs pays the extra exchange+stage (bm25_topk
    * 0.46 → 0.94 s, image_dhash 0.46 → 1.15 s) and every trivial
    * consumer pays ~70 ms (sample_docs 0.087 → 0.158 s), while the
    * heavy-derivation wins were already captured by the surgical
    * placements. */
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** Bucket count for the in-query LSH index fixtures below. These
    * constructors build bounded (≤60 k-row at sf0.1) indexes whose
    * lifecycle is the thing under test, so buckets are sized to the
    * DATA, not to cores: [[graft.llm.LshIndex.defaultBuckets]]' cores
    * rule targets corpus-growing ingest loops where bucket count is
    * the parallelism ceiling, and on these fixtures it just multiplies
    * file/job overhead for parallelism the rows cannot fill (same-day
    * A/B at sf0.1: the cores-wide default cost every lifecycle query
    * 1.3-1.5×). A real deployment passes a count sized to total
    * cluster cores × a small multiple. */
  private val lshOracleBuckets = 8

  /** The LSH oracle queries' probe batch: every tenth doc re-issued
    * under an id ≥ 100000 with one token prepended — a near-dup of its
    * stored source. */
  private def lshProbe(d: DataFrame): DataFrame =
    d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("dup "), col("text")).as("text"))

  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** Synthetic media for the queries that READ the payload bytes: the
    * doc scan is spread first (guide §2.5 input skew), so the BMP/WAV
    * encoders — the media family's expensive per-row work — run after
    * the exchange. On the driver-layout tables (one parquet file, one
    * row group) the scan is a SINGLE task otherwise: the r18 event log
    * showed media_kind_stats as one 0.74 s task with 31 cores idle.
    * Metadata-only media queries skip both (see
    * [[Multimodal.syntheticMedia]]). */
  private def payloadMedia(d: DataFrame): DataFrame =
    Multimodal.syntheticMedia(Tables.spread(d.select("doc_id", "text")))

  /** Flagship (SURVEY §7.2): top hashtags per 15 s batch bucket with mean
    * sentiment — the reference's whole product as one batch query.
    * Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val rows = TrendPipeline.trendRows(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    TrendPipeline.topNTrends(rows, 3)
      .join(TrendPipeline.meanSentiment(rows), Seq("hashtag"), "inner")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference-parity: trend pipeline over `documents` ----
    // T-1/T-2 + D-1 (flagship row set; deterministic dedup keep rule)
    "trend_rows" -> ((s, dir) =>
      TrendPipeline.dedupTrends(TrendPipeline.trendRows(docs(s, dir)))),
    // P-3/P-4/P-5b + A-1 batch analog
    "hashtag_counts" -> ((s, dir) =>
      TrendPipeline.hashtagCounts(TrendPipeline.trendRows(docs(s, dir)))),
    // same semantics, explicit two-phase salted plan (hot-key path)
    "hashtag_counts_salted" -> ((s, dir) =>
      TrendPipeline.hashtagCountsSalted(TrendPipeline.trendRows(docs(s, dir)))),
    // A-2
    "mean_sentiment" -> ((s, dir) =>
      TrendPipeline.meanSentiment(TrendPipeline.trendRows(docs(s, dir)))),
    // J-1
    "count_join_sentiment" -> ((s, dir) =>
      TrendPipeline.countJoinSentiment(TrendPipeline.trendRows(docs(s, dir)))),
    // §3.3 dashboard top-N per bucket
    "topn_trends" -> ((s, dir) =>
      TrendPipeline.topNTrends(TrendPipeline.trendRows(docs(s, dir)), 3)),
    // P-8 / U-3
    "country_extract" -> ((s, dir) =>
      TrendPipeline.syntheticTweets(docs(s, dir)).select(
        col("doc_id"),
        Country.extractCountry(WireCodec.tweetLocation(col("line")))
          .as("country"))),
    // P-7 (URL/mention injected to exercise the whole chain)
    "clean_text" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.cleanTweetText(
          concat(lit("Check http://t.co/x "), col("text"),
            lit(" @"), col("source"))).as("clean"))),
    // U-1 + U-2
    "sentiment_score" -> ((s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          Sentiment.weightedScore(TextOps.cleanTweetText(col("text")))
            .as("sentiment_score"))
        .withColumn("sentiment_type",
          lower(Sentiment.bucket(col("sentiment_score"))))),
    // A-4 (multi-sentence weighted mean; '.'-injection makes real sentences)
    "weighted_sentiment" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        Sentiment.weightedScore(
          regexp_replace(col("text"), "\\bbatch\\b", ".")).as("wscore"))),
    // P-6 / P-10 / T-2: encode → decode must be the identity
    // the DSv2 wire source end-to-end: trend rows encoded to wire files
    // by the graft-wire writer, scanned back by the graft-wire reader,
    // aggregated — the oracle computes the same rollup straight from
    // the rows, so the hash compare proves the source lossless
    "wire_scan" -> ((s, dir) => {
      // fresh dir per invocation (the wire write is append-mode), but
      // under the shutdown-hooked scratch root so bench reps don't
      // leak table copies into /tmp past the JVM's lifetime
      val tmp = graft.sources.TextFormats.freshScratchDir("graft_wire_scan")
      TrendPipeline.trendRows(docs(s, dir))
        .select(col("hashtag"), col("sentiment_score"),
          col("sentiment_type"), col("country"))
        .write.format("graft-wire").mode("append").save(tmp)
      s.read.format("graft-wire").load(tmp)
        .groupBy("country")
        .agg(count(lit(1)).as("n_rows"),
          sum(units(col("sentiment_score"), 1)).as("score_dm"))
    }),
    "wire_roundtrip" -> ((s, dir) => {
      val rows = TrendPipeline.trendRows(docs(s, dir))
      rows
        .select(col("doc_id"), WireCodec.decodeMetric(
          WireCodec.encodeMetric(
            col("hashtag"), col("sentiment_score"),
            col("sentiment_type"), col("country"))).as("dec"))
        .select(col("doc_id"), col("dec.*"))
    }),
    // ---- §3.3 dashboard queries over trend rows ----
    "sentiment_distribution" -> ((s, dir) =>
      TrendPipeline.sentimentDistribution(TrendPipeline.trendRows(docs(s, dir)))),
    "counts_by_country" -> ((s, dir) =>
      TrendPipeline.countsByCountry(TrendPipeline.trendRows(docs(s, dir)))),
    "hashtag_timeseries" -> ((s, dir) =>
      TrendPipeline.hashtagTimeseries(TrendPipeline.trendRows(docs(s, dir)))),
    // "suddenly trending": count vs mean of the 3 prior buckets. The
    // synthetic series is near-uniform, so the registered probe runs at
    // +10% (1100 pm) to exercise the firing path; the API default is 2x.
    "trend_spikes" -> ((s, dir) =>
      TrendPipeline.trendSpikes(TrendPipeline.trendRows(docs(s, dir)),
        factorPm = 1100L)),
    // ---- A-1 / A-3 event-time analogs over `events` ----
    "windowed_counts" -> ((s, dir) => Windows.tumblingCounts(events(s, dir))),
    "sliding_counts" -> ((s, dir) => Windows.slidingCounts(events(s, dir))),
    "stream_count" -> ((s, dir) => Windows.streamCount(events(s, dir))),
    "user_sessions" -> ((s, dir) => Windows.userSessions(events(s, dir))),
    "session_stats" -> ((s, dir) => Windows.sessionStats(events(s, dir))),
    // schema-on-read JSON payload column (codegen'd path extraction)
    "event_props" -> ((s, dir) => Windows.eventPropStats(events(s, dir))),
    // wide dashboard matrix: day × pinned event-type list, dense zeros
    "event_pivot" -> ((s, dir) => Windows.eventTypePivot(events(s, dir))),
    // ordered view→click→purchase funnel (strict-prefix semantics)
    "event_funnel" -> ((s, dir) => Windows.eventFunnel(events(s, dir))),
    // time-to-convert stats for funnel completers
    "funnel_latency" -> ((s, dir) => Windows.funnelLatency(events(s, dir))),
    // first-order Markov transition matrix over per-user streams
    "event_transitions" -> ((s, dir) =>
      Windows.eventTransitions(events(s, dir))),
    // first-active-day cohorts × day offset retention matrix
    "user_retention" -> ((s, dir) => Windows.cohortRetention(events(s, dir))),
    // robust median/MAD outlier report on the metric column
    "value_outliers" -> ((s, dir) => Windows.valueOutliers(events(s, dir))),
    // exact trailing-7-day distinct active users per day
    "rolling_active_users" -> ((s, dir) =>
      Windows.rollingActiveUsers(events(s, dir))),
    // the flatMapGroupsWithState custom-state twin, run in batch mode
    "stateful_sessions" -> ((s, dir) =>
      graft.streaming.StatefulSessions.sessionizeBatch(events(s, dir)).toDF()),
    // the NATIVE session operator (Spark's merging session_window —
    // the streaming-ready form), flattened to exact epoch-microsecond
    // bounds. Two semantics pinned by the oracle + WindowsSpec: the
    // boundary is INCLUSIVE (an event exactly at the previous window's
    // end merges — splits only on strictly greater gaps, same rule as
    // the lag/cumsum and flatMapGroupsWithState forms), and the window
    // carries raw microsecond timestamps, not floor-second casts.
    "session_window_counts" -> ((s, dir) =>
      Windows.sessionWindowCounts(events(s, dir))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))),
    "asof_join" -> ((s, dir) => Windows.clickAsofPurchase(events(s, dir))),
    // ---- §3.3 analyst queries over the TPC-H-ish tables ----
    "q1_agg" -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "q3_join" -> ((s, dir) => Relational.topRevenueOrders(s, dir)),
    "customers_by_region" -> ((s, dir) => Relational.customersByRegion(s, dir)),
    "q5_region_volume" -> ((s, dir) => Relational.regionVolume(s, dir)),
    // GROUPING SETS drill-down: detail/subtotal/grand-total in one
    // Expand+agg pass, never three scans
    "revenue_rollup" -> ((s, dir) => Relational.revenueRollup(s, dir)),
    // Q10 shape: pushed returnflag filter, two wide shuffles, top-20
    "q10_returned" -> ((s, dir) => Relational.topReturnedCustomers(s, dir)),
    // Q7 shape: nation dimension joined in two roles, both broadcast
    "q7_volume" -> ((s, dir) => Relational.nationVolume(s, dir)),
    // FK-edge orphan audit via left-anti joins (warehouse load gate)
    "integrity_check" -> ((s, dir) => Relational.integrityReport(s, dir)),
    // Q4 shape: EXISTS as a left-semi join, no DISTINCT pass
    "q4_priority" -> ((s, dir) => Relational.returnPriorityCounts(s, dir)),
    // Q6 shape: pure pushed-predicate scan + 1-row aggregate
    "q6_forecast" -> ((s, dir) => Relational.discountRevenue(s, dir)),
    // Q13 shape: left-outer count incl. the zero bucket, one exchange
    "q13_custdist" -> ((s, dir) => Relational.customerOrderDistribution(s, dir)),
    // Q18 shape: HAVING cut on the rollup before any join
    "q18_large" -> ((s, dir) => Relational.largeQuantityOrders(s, dir)),
    // Q21 shape: EXISTS + NOT EXISTS from one (order,supplier) pass
    "q21_wait" -> ((s, dir) => Relational.soleReturnSuppliers(s, dir)),
    // repeat-purchase day gaps: lag window on custkey, grand report
    "order_gaps" -> ((s, dir) => Relational.repeatPurchaseLatency(s, dir)),
    // market-basket pair mining: per-basket pair gen, integer-permille
    // support/confidence/lift, top-100 by lift
    "basket_pairs" -> ((s, dir) => Relational.basketPairs(s, dir)),
    // Q8 shape: widest join in the suite (8 relations), one-pass
    // conditional-sum share in exact permille
    "q8_market_share" -> ((s, dir) => Relational.marketShare(s, dir)),
    // Q14 shape: broadcast part join, promo share per ship month
    "q14_promo" -> ((s, dir) => Relational.promoShare(s, dir)),
    // Q19 shape: DNF predicate split across scan pushdown + residual
    "q19_bands" -> ((s, dir) => Relational.brandBandRevenue(s, dir)),
    // Q17 shape: decorrelated per-part avg, division-free threshold
    "q17_small_qty" -> ((s, dir) => Relational.smallQuantityRevenue(s, dir)),
    // Q2 shape: correlated scalar min decorrelated into agg + join-back
    "q2_min_cost" -> ((s, dir) => Relational.minCostSupplier(s, dir)),
    // Q11 shape: group filter vs 1-row global-total broadcast
    "q11_important_parts" -> ((s, dir) => Relational.importantParts(s, dir)),
    // Q15 shape: scalar max subquery over a reused aggregate
    "q15_top_supplier" -> ((s, dir) => Relational.topSupplier(s, dir)),
    // Q16 shape: NOT IN as broadcast left-anti over the link table
    "q16_supplier_cnt" -> ((s, dir) => Relational.supplierCount(s, dir)),
    // Q20 shape: nested IN chain as stacked semi-joins
    "q20_excess_supp" -> ((s, dir) => Relational.excessSuppliers(s, dir)),
    // Q22 shape: scalar avg + NOT EXISTS anti-join on the fact side
    "q22_idle_customers" -> ((s, dir) => Relational.idleCustomers(s, dir)),
    // Q9 shape: composite-key join back to the partsupp-analog costs
    "q9_profit" -> ((s, dir) => Relational.productProfit(s, dir)),
    // Q12 shape: conditional priority counts after the orderkey join
    "q12_priority_class" -> ((s, dir) => Relational.shipPriorityCounts(s, dir)),
    // full CUBE: one Expand pass, grouping_id bitmask margins
    "revenue_cube" -> ((s, dir) => Relational.revenueCube(s, dir)),
    // text-format ingest: write->read roundtrips (explicit schema,
    // header validation) — the oracle reads parquet, so agreement is a
    // full value-level check of the text codec
    "csv_roundtrip" -> ((s, dir) =>
      graft.sources.TextFormats.csvRoundtrip(s, dir)),
    "json_roundtrip" -> ((s, dir) =>
      graft.sources.TextFormats.jsonRoundtrip(s, dir)),
    "orc_roundtrip" -> ((s, dir) =>
      graft.sources.TextFormats.orcRoundtrip(s, dir)),
    // columnar to_json/from_json codec over the full documents table
    "json_column_roundtrip" -> ((s, dir) =>
      graft.sources.TextFormats.jsonColumnRoundtrip(s, dir)),
    // two writer generations, one mergeSchema read: the missing column
    // surfaces as NULL (the reader-side schema-evolution contract)
    "schema_evolution" -> ((s, dir) =>
      graft.sources.TextFormats.schemaEvolutionRead(s, dir)),
    // MERGE-style CDC apply: one full-outer join resolves U/D/I per row
    "merge_upsert" -> ((s, dir) => Relational.mergeUpsert(s, dir)),
    // dbt/Deequ-style expectation suite: all rules in ONE scan
    "expectations_report" -> ((s, dir) =>
      Relational.expectationsReport(s, dir)),
    // IVM: old-partition + delta partials merged by re-aggregation;
    // the oracle recomputes from raw events — merge ≡ recompute
    "incremental_rollup" -> ((s, dir) =>
      Windows.incrementalRollup(events(s, dir))),
    // last-touch attribution: carry-forward window vs the oracle's
    // correlated max subquery
    "purchase_attribution" -> ((s, dir) =>
      Windows.purchaseAttribution(events(s, dir))),
    // CBO-style equi-width histogram on observed bounds
    "price_histogram" -> ((s, dir) => Relational.priceHistogram(s, dir)),
    // mergeable bottom-k sample sketch: the quantile leg of the sketch
    // algebra — exact merge invariance + rank-band QC as 0/1 metrics
    "value_quantiles_sketch" -> ((s, dir) =>
      Windows.valueQuantilesSketch(events(s, dir))),
    // Holt double smoothing: trend-aware EWMA twin, floor-div exact
    "daily_holt" -> ((s, dir) => Windows.dailyHolt(events(s, dir))),
    // ratio-to-report + rank over an unbounded window partition
    "nation_revenue_share" -> ((s, dir) =>
      Relational.nationRevenueShare(s, dir)),
    // dense_rank top-k: tie semantics a row_number cut gets wrong
    "top_parts_per_nation" -> ((s, dir) =>
      Relational.topPartsPerNation(s, dir)),
    // the CUSTOM physical operator (logical node + strategy + exec):
    // heap-per-key top-k, one exchange, zero sorts
    "top_parts_native" -> ((s, dir) =>
      Relational.topPartsPerNationNative(s, dir)),
    // blocked Jaro-Winkler similarity join (native codegen'd scalar)
    "jw_name_pairs" -> ((s, dir) => Relational.jaroWinklerPairs(s, dir)),
    // ER clusters: connected components over the JW pair graph
    "name_clusters" -> ((s, dir) => Relational.nameClusters(s, dir)),
    // sort-based blocking (Hernández-Stolfo merge/purge): linear n·(w-1)
    // candidates via the two-phase exact rank + bucketed window join
    "snm_name_pairs" -> ((s, dir) =>
      Relational.sortedNeighborhoodPairs(s, dir)),
    // recall audit: key-blocking vs sorted-neighborhood on one predicate
    "blocking_comparison" -> ((s, dir) =>
      Relational.blockingComparison(s, dir)),
    // multi-pass SNM: forward + token-reversed orderings, per-pass
    // provenance — the published recall fix for single-pass SNM
    "snm_multipass_pairs" -> ((s, dir) =>
      Relational.sortedNeighborhoodMultipass(s, dir)),
    // Count-Min sketch: mergeable point-frequency with one-sided error
    "cms_part_counts" -> ((s, dir) => Relational.cmsPartCounts(s, dir)),
    // iterative fixed-point: 3-iteration PageRank over the supply graph
    "pagerank_supply" -> ((s, dir) => graft.ops.Graph.pagerankSupply(s, dir)),
    // iterative frontier expansion: bounded multi-source BFS levels
    "bfs_levels" -> ((s, dir) => graft.ops.Graph.bfsSupply(s, dir)),
    // personalized PageRank: seed-teleport random walk with restart,
    // zero extra shuffles over the uniform operator
    "ppr_supply" -> ((s, dir) => graft.ops.Graph.pprSupply(s, dir)),
    // the SQL entry path end-to-end: temp view + spark.sql TEXT with a
    // session-extension native function (graft_sentiment) in the
    // projection — the surface an analyst tool actually speaks
    "sql_doc_sentiment" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id, lang,
                      round(graft_sentiment(text), 4) AS sentiment
               FROM documents_v
               WHERE n_chars >= 100""")
    }),
    // growth split: first-seen day vs daily actives, one user exchange
    "new_vs_returning" -> ((s, dir) => Windows.newVsReturning(events(s, dir))),
    // multi-metric vendor report from one suppkey rollup
    "supplier_scorecard" -> ((s, dir) => Relational.supplierScorecard(s, dir)),
    // ANALYZE-style per-column stats in one Expand pass (CBO feed)
    "column_stats" -> ((s, dir) => Relational.columnStats(s, dir)),
    // mergeable HLL rollup: daily sketches → weekly union; invariants
    // (re-agg invariance, error bound) ship as oracle-checked 0/1s
    "hll_users" -> ((s, dir) => Windows.hllWeeklyUsers(events(s, dir))),
    // KMV set sketches: pairwise distinct-user overlap with no
    // user-scale join in the estimating path; invariants as 0/1s
    "user_overlap" -> ((s, dir) => Windows.userTypeOverlap(events(s, dir))),
    // fixed-point EWMA spike series: reduce to day grain first, fold
    // the |days| recurrence with a native higher-order aggregate
    "daily_ewma" -> ((s, dir) => Windows.dailyEwma(events(s, dir))),
    // capacity planning: delta-sweep peak concurrent sessions per day
    "session_concurrency" -> ((s, dir) =>
      Windows.sessionConcurrency(events(s, dir))),
    // UNPIVOT: the pivot matrix melts losslessly back to long form
    "event_melt" -> ((s, dir) => Windows.eventTypeMelt(events(s, dir))),
    // Z-order clustering report: per-Z-range row counts and the
    // min/max footer bounds a z-ordered file layout would carry
    "zorder_layout" -> ((s, dir) => Windows.zOrderLayout(events(s, dir))),
    // large-large join with plan-level skew salting; oracle is salt-blind
    "order_revenue_salted" -> ((s, dir) => Relational.orderRevenueSalted(s, dir)),
    // the SELECTIVE salter: only keys above a frequency threshold salt
    // (the SkewBench-measured revision — full salting loses on elapsed
    // time; see Relational.selectiveSaltedJoin); same salt-blind oracle
    "order_revenue_salted_selective" -> ((s, dir) =>
      Relational.orderRevenueSaltedSelective(s, dir)),
    // bucketed point-in-interval join; oracle states the raw inequality
    "range_join" -> ((s, dir) => Ranges.orderShipWindow(s, dir)),
    // ---- LLM-data-pipeline operators (graft.llm) ----
    "token_stats" -> ((s, dir) => TextAnalysis.tokenStats(docs(s, dir))),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    // the language gate's eval: confusion matrix vs the labeled column
    "lang_confusion" -> ((s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir))),
    "quality_score" -> ((s, dir) => TextAnalysis.qualityScore(docs(s, dir))),
    // published Gopher hard gates: per-rule 0/1 verdicts, all-integer
    "gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(docs(s, dir))),
    "doc_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    // Unicode canonicalization (native NFC + accent folding): corpus
    // audit over injected decomposed sequences, pinned to DuckDB's
    // nfc_normalize/strip_accents value-for-value
    "unicode_normalize_stats" -> ((s, dir) =>
      TextAnalysis.unicodeNormStats(docs(s, dir))),
    "canonicalize_names" -> ((s, dir) => TextAnalysis.canonicalizedNames(
      Tables.supplier(s, dir), "s_suppkey", "s_name")),
    // linear quality classifier: closed-form training on the quality
    // heuristic's pseudo-labels, then bag-of-tokens scoring
    "classifier_weights" -> ((s, dir) => Classifier.tokenWeights(docs(s, dir))),
    "classifier_score" -> ((s, dir) => Classifier.scoreDocs(docs(s, dir))),
    // model evaluation at corpus scale: exact tie-aware AUC + PR sweep
    "classifier_auc" -> ((s, dir) =>
      Classifier.auc(Classifier.scoreDocs(docs(s, dir)))),
    // where to cut: per-decile positive rate vs the global rate
    "classifier_lift" -> ((s, dir) =>
      Classifier.lift(Classifier.scoreDocs(docs(s, dir)))),
    "classifier_pr_curve" -> ((s, dir) =>
      Classifier.prCurve(Classifier.scoreDocs(docs(s, dir)))),
    // lexical retrieval: integer-exact BM25-shaped top-k
    "bm25_topk" -> ((s, dir) => Retrieval.bm25TopK(docs(s, dir))),
    // exact positional phrase query via postings anchors (no text
    // rescan at query time)
    "phrase_search" -> ((s, dir) =>
      Retrieval.phraseSearch(docs(s, dir), "slow hash batch")),
    // dense twin of bm25 (query embedded by the corpus's own hashing
    // vectorizer) and the RRF hybrid of the two 20-deep pools
    "semantic_topk" -> ((s, dir) => Retrieval.semanticTopK(docs(s, dir))),
    "hybrid_rrf_topk" -> ((s, dir) => Retrieval.hybridTopK(docs(s, dir))),
    "ngram_counts" -> ((s, dir) => TextAnalysis.ngramCounts(docs(s, dir))),
    "dedup_docs" -> ((s, dir) =>
      Dedup.exactDedup(Dedup.withExactDups(docs(s, dir)))),
    "dedup_rate_by_source" -> ((s, dir) =>
      Dedup.dedupRateBySource(
        Dedup.withExactDups(docs(s, dir), extra = Seq("source")))),
    "cross_source_overlap" -> ((s, dir) =>
      Dedup.crossSourceOverlap(Dedup.withMirroredDocs(docs(s, dir)))),
    // incremental-crawl delta: (doc_id, digest) full-outer compare
    "corpus_delta" -> ((s, dir) =>
      Dedup.corpusDelta(docs(s, dir), Dedup.withSnapshotB(docs(s, dir)))),
    "minhash_dedup" -> ((s, dir) =>
      Dedup.minhashDedup(Dedup.withNearDups(docs(s, dir)))),
    // near-dup graph degree histogram: the hot-cluster early warning
    "dup_degrees" -> ((s, dir) =>
      Dedup.dupDegrees(Dedup.withNearDups(docs(s, dir)))),
    "minhash_signatures" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir))),
    // persisted LSH near-dup index (the AnnIndex analog for dedup):
    // build on the base corpus, probe the injected near-dup batch
    // against the STORED bucketed tables — must reproduce DuckDB's
    // from-scratch band math row-for-row
    "lsh_index_query" -> ((s, dir) => {
      val d = docs(s, dir)
      LshIndex.buildGen(d, "lsh_oracle", lshOracleBuckets)
      LshIndex.queryGen(lshProbe(d), "lsh_oracle")
    }),
    // the read path under the oracle gate in its hardest state:
    // cold = slice A (after one full hot cycle), merging = slice B
    // staged-but-NOT-committed (the state a running maintenance
    // thread leaves), hot = slice C. queryGen over that mid-merge
    // layout must reproduce DuckDB's from-scratch band math over the
    // WHOLE corpus (per-doc-deterministic bands/sets partition the
    // collisions). Shares lsh_index_query's oracle verbatim: the
    // generation layout is exactly supposed to be invisible to answers.
    "lsh_gen_query" -> ((s, dir) => {
      val d = docs(s, dir)
      val name = "lsh_gen_oracle"
      LshIndex.buildGen(d.filter(pmod(col("doc_id"), lit(3)) === 0), name,
        lshOracleBuckets)
      LshIndex.appendHot(d.filter(pmod(col("doc_id"), lit(3)) === 1), name)
      LshIndex.rotateHot(s, name)
      LshIndex.appendHot(d.filter(pmod(col("doc_id"), lit(3)) === 2), name)
      LshIndex.mergeStage(s, name) // staged, deliberately uncommitted
      LshIndex.queryGen(lshProbe(d), name)
    }),
    // the generational maintenance signal over the same mid-merge
    // fixture: per-generation band-bucket stats (cold=A, merging=B
    // staged-uncommitted, hot=C — the doc_id % 3 slices), which DuckDB
    // recomputes from scratch by tagging its band chain with the slice
    "lsh_gen_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val name = "lsh_genstats_oracle"
      LshIndex.buildGen(d.filter(pmod(col("doc_id"), lit(3)) === 0), name,
        lshOracleBuckets)
      LshIndex.appendHot(d.filter(pmod(col("doc_id"), lit(3)) === 1), name)
      LshIndex.rotateHot(s, name)
      LshIndex.appendHot(d.filter(pmod(col("doc_id"), lit(3)) === 2), name)
      LshIndex.mergeStage(s, name) // staged, deliberately uncommitted
      LshIndex.bucketStatsGen(s, name)
    }),
    // right-to-be-forgotten: tombstoned stored docs stop matching
    // immediately (logical delete, O(|deleted|))
    "lsh_delete_query" -> ((s, dir) => {
      val d = docs(s, dir)
      LshIndex.buildGen(d, "lsh_del", lshOracleBuckets)
      LshIndex.delete(
        d.filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id"),
        "lsh_del")
      LshIndex.queryGen(lshProbe(d), "lsh_del")
    }),
    // bucket-count migration mid-lifecycle: rebucket doubles the
    // index's parallelism ceiling (the bucketed tables are rewritten
    // under the new count via the staged-swap machinery) and must be
    // invisible to answers — same oracle as lsh_delete_query, with a
    // live tombstone riding through the migration. The oracle-checked
    // form of the op GenerationalLshSpec pins mid-lifecycle.
    "lsh_rebucket_query" -> ((s, dir) => {
      val d = docs(s, dir)
      val name = "lsh_rebucket_oracle"
      LshIndex.buildGen(d, name, lshOracleBuckets)
      LshIndex.delete(
        d.filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id"),
        name)
      LshIndex.rebucket(s, name, lshOracleBuckets * 2)
      LshIndex.queryGen(lshProbe(d), name)
    }),
    // the physical half: purge rewrites without tombstoned rows; the
    // query answer is identical (same oracle)
    "lsh_purge_query" -> ((s, dir) => {
      val d = docs(s, dir)
      LshIndex.buildGen(d, "lsh_purge", lshOracleBuckets)
      LshIndex.delete(
        d.filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id"),
        "lsh_purge")
      LshIndex.purgeDeleted(s, "lsh_purge")
      LshIndex.queryGen(lshProbe(d), "lsh_purge")
    }),
    // the KEPT side of the stored-index history gate (the per-batch
    // check DocStream.ingestGen runs): near-dups of indexed docs drop,
    // sub-shingle-size docs pass vacuously
    "lsh_history_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      LshIndex.buildGen(d, "lsh_gate_oracle", lshOracleBuckets)
      val batch = lshProbe(d)
        .unionAll(d.filter(pmod(col("doc_id"), lit(10)) === 7)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat_ws(" ", slice(graft.llm.TextFns.tokens(col("text")), 1, 2))
              .as("text")))
      LshIndex.gateGen(batch, "lsh_gate_oracle").select("doc_id")
    }),
    // LSH maintenance signal: per-band bucket occupancy + candidate load
    "lsh_bucket_stats" -> ((s, dir) =>
      LshIndex.bucketStatsOf(Dedup.lshBands(Dedup.shingleSets(
        Dedup.withNearDups(docs(s, dir)))))),
    // the PHYSICAL maintenance lifecycle: build on one slice, fragment
    // hot with 3 appends, compact by one merge cycle (rotate → stage →
    // commit rewrites cold to one file per bucket), then delete and
    // purge through the maintenance driver. Lifecycle invariants go
    // out as 0/1 metrics; the stored tables' row counts are recomputed
    // from scratch by the oracle's shingle/band chain. The collects
    // here are parameter-sized (1-row distincts of lit columns) —
    // maintenance decisions, not data movement.
    "lsh_frag_stats" -> ((s, dir) => {
      import graft.sources.Bucketed
      val name = "lsh_frag_oracle"
      // a 20% sub-corpus: the lifecycle (fragment → compact) is the
      // thing under test, not data volume — % 20 keeps the bench cost
      // of the three appends proportionate
      val sub = docs(s, dir).filter(pmod(col("doc_id"), lit(20)) < 4)
      LshIndex.buildGen(sub.filter(pmod(col("doc_id"), lit(20)) === 0),
        name, lshOracleBuckets)
      for (i <- 1 to 3)
        LshIndex.appendHot(sub.filter(pmod(col("doc_id"), lit(20)) === i)
          .select("doc_id", "text"), name)
      val bandsT = LshIndex.bandsTable(name)
      // (n_files, rows) of both generations' bands straight from the
      // file index, before the merge
      val (coldFiles, coldRows) = Bucketed.fileStats(s, bandsT)
      val (hotFiles, hotRows) =
        Bucketed.fileStats(s, LshIndex.hotBandsTable(name))
      // the stats query's physical column must read the fragmentation:
      // each onePerBucket append stacks one file per touched bucket, so
      // hot's deepest stack is exactly the append count
      val hotDepth = LshIndex.bucketStatsGen(s, name)
        .filter(col("gen") === "hot").select("max_bucket_files")
        .distinct().collect().head.getLong(0)
      LshIndex.rotateHot(s, name)
      LshIndex.mergeStage(s, name)
      LshIndex.mergeCommit(s, name)
      val (cFiles, cRows) = Bucketed.fileStats(s, bandsT)
      val buckets = Bucketed.bucketCount(s, bandsT)
      val nonEmpty = s.table(bandsT)
        .select(countDistinct(pmod(hash(col("band_key")), lit(buckets))))
        .collect().head.getLong(0)
      def b(x: Boolean) = if (x) 1L else 0L
      // right-to-be-forgotten leg: delete one appended slice; the
      // maintenance driver's startup recovery must surface the PURGE
      // DEBT (re-arm the purge from the surviving tombstones) and its
      // next trigger-path call lands the purge. The post-purge row
      // counts are what the oracle recomputes from scratch over
      // (sub-corpus minus the deleted slice).
      LshIndex.delete(
        sub.filter(pmod(col("doc_id"), lit(20)) === 1).select("doc_id"), name)
      val debt = LshIndex.tombstoneCount(s, name)
      val maint = new graft.llm.LshMaintenance(s, name)
      val debtSurfaced = try {
        maint.recover()
        val pending = maint.purgeIsPending
        maint.maybeCommit(s)
        pending && !maint.purgeIsPending
      } finally maint.close()
      val debtAfter = LshIndex.tombstoneCount(s, name)
      val (pFiles, pRows) = Bucketed.fileStats(s, bandsT)
      val pNonEmpty = s.table(bandsT)
        .select(countDistinct(pmod(hash(col("band_key")), lit(buckets))))
        .collect().head.getLong(0)
      val setsRows = s.table(LshIndex.setsTable(name)).count()
      val s2 = s
      import s2.implicits._
      Seq(
        ("band_rows", pRows),
        ("sets_rows", setsRows),
        ("appends_fragment_files", b(coldFiles + hotFiles > cFiles)),
        ("compact_one_file_per_nonempty_bucket",
          b(cFiles == nonEmpty)),
        ("rows_preserved_through_compact",
          b(cRows == coldRows + hotRows)),
        // the metric name predates the generational stats surface; it
        // now reconciles that surface's file column with the lifecycle
        ("avg_file_rows_reconciles", b(hotDepth == 3L)),
        ("tombstones_pending", debt),
        ("stats_surface_purge_debt", b(debt > 0 && debtSurfaced)),
        ("tombstones_after_purge", debtAfter),
        ("purge_one_file_per_nonempty_bucket", b(pFiles == pNonEmpty)),
        ("purge_drops_rows", b(pRows < cRows))
      ).toDF("metric", "value")
    }),
    // analytic S-curve behind the (bands, rows) default — engine-side
    // pow/round over the parameter grid
    "lsh_tuning" -> ((s, _) => {
      val grid = for {
        (b, r) <- Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
        j <- 50 to 950 by 50
      } yield (b.toLong, r.toLong, j.toLong)
      val s2 = s
      import s2.implicits._
      grid.toDF("n_bands", "rows_per_band", "jaccard_pm")
        .select(col("n_bands"), col("rows_per_band"), col("jaccard_pm"),
          units(lit(1.0) -
            pow(lit(1.0) - pow(col("jaccard_pm") / 1000.0, col("rows_per_band")),
              col("n_bands")), 3).as("detect_pm"))
    }),
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Dedup.withNearDups(docs(s, dir)))),
    // EXACT set-similarity self-join (prefix filtering, recall 1) —
    // the completeness counterpart to the LSH candidates above
    "ssjoin_exact" -> ((s, dir) =>
      SetSimJoin.ssjoinExact(Dedup.withNearDups(docs(s, dir)))),
    // the prefix filter's selectivity, pinned cross-engine
    "ssjoin_prefix_stats" -> ((s, dir) =>
      SetSimJoin.ssjoinPrefixStats(Dedup.withNearDups(docs(s, dir)))),
    // LSH recall as DATA: banded pairs vs the exact join, same corpus
    "dedup_recall_audit" -> ((s, dir) =>
      SetSimJoin.dedupRecallAudit(Dedup.withNearDups(docs(s, dir)))),
    // threshold-tuning report: docs removed per Jaccard cutoff
    "dedup_rate_curve" -> ((s, dir) =>
      Dedup.dedupRateCurve(Dedup.withNearDups(docs(s, dir)))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(Dedup.minhashDedup(Dedup.withNearDups(docs(s, dir))))),
    // cluster-aware train/val/test: near-dup clusters never straddle
    // splits (eval leakage is impossible by construction)
    "leakage_split" -> ((s, dir) => {
      val corpus = Dedup.withNearDups(docs(s, dir))
      Dedup.leakageSafeSplit(corpus, Dedup.minhashDedup(corpus))
    }),
    // q-gram filtered Levenshtein join: typo-level near-dup pairs on
    // the 32-char title prefix (exact candidate filter + verify)
    "edit_distance_pairs" -> ((s, dir) =>
      EditDistance.editDistancePairs(
        EditDistance.withTypoDocs(docs(s, dir)))),
    // the gram-frequency-capped variant on a mixed corpus: a 10% slice
    // (plus typo dups) whose tiny vocabulary makes every gram hot at
    // cap=16 — driving those docs through the length-banded FALLBACK —
    // unioned with hex-titled docs that keep >= 5 sub-cap grams and
    // stay on the bucketed prefix join; the oracle is brute force, so
    // agreement proves the two-path split loses no pair
    "edit_distance_pairs_capped" -> ((s, dir) => {
      val base = docs(s, dir)
      val slice = EditDistance.withTypoDocs(
        base.filter(pmod(col("doc_id"), lit(10)) === 0))
      val safeRows = base.filter(pmod(col("doc_id"), lit(10)) === 1)
        .select((col("doc_id") + 800000L).as("doc_id"),
          format_string("uq%x mixed corpus safe title row",
            pmod(col("doc_id") * 2654435761L, lit(1000000007L))).as("text"))
      EditDistance.editDistancePairs(slice.unionAll(safeRows),
        gramFreqCap = 16L)
    }),
    "redact_text" -> ((s, dir) => TextAnalysis.redactedDocs(docs(s, dir))),
    // corpus statistics + curation selection ops
    "vocab_df" -> ((s, dir) => TextAnalysis.vocabDf(docs(s, dir))),
    // Misra-Gries candidates + exact recount: sketch-pruned scan,
    // exact GROUP BY/HAVING answer (oracle states it that way)
    "heavy_hitters" -> ((s, dir) =>
      graft.llm.HeavyHitters.heavyHitters(docs(s, dir))),
    "token_quantiles" -> ((s, dir) => TextAnalysis.tokenQuantiles(docs(s, dir))),
    "doc_chunks" -> ((s, dir) => TextAnalysis.chunkDocs(docs(s, dir))),
    "doc_repetition" -> ((s, dir) => TextAnalysis.docRepetition(docs(s, dir))),
    "pack_sequences" -> ((s, dir) => Packing.packSequences(docs(s, dir))),
    "bigram_commonness" -> ((s, dir) =>
      TextAnalysis.bigramCommonness(docs(s, dir))),
    "contamination" -> ((s, dir) =>
      Dedup.contamination(Dedup.withExactDups(docs(s, dir)))),
    // the no-broadcast scale twin: eval set folded to a fixed-size Bloom
    // filter (bit_or-packed words), FPs reproduced exactly by the oracle
    "bloom_contamination" -> ((s, dir) =>
      Dedup.bloomContamination(Dedup.withExactDups(docs(s, dir)))),
    // the ROW-LEVEL form of the same gate — the native single-loop
    // BloomShingleHitExpression that the streaming curation stage runs
    // per row, here oracle-pinned against DuckDB's independent bloom
    // math (kept = docs whose every shingle misses at least one bit)
    "bloom_gate_kept" -> ((s, dir) => {
      val corpus = Dedup.withExactDups(docs(s, dir))
      val filt = Dedup.bloomFilterArray(corpus.filter(col("doc_id") < 20L))
      corpus.filter(col("doc_id") >= 20L)
        .filter(!Dedup.bloomContaminatedFromTokenHashes(
          graft.llm.TextFns.tokenHashes(col("text")), filt))
        .select("doc_id")
    }),
    // sub-document boilerplate: chunks repeated across >=2 distinct docs
    "chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(Dedup.withExactDups(docs(s, dir)))),
    // exact substring dedup (Lee et al. 2022): maximal repeated
    // >=8-token spans via the native O(n) rolling window hash
    "repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Dedup.withBoilerplate(docs(s, dir)))),
    // the curation signal: per-doc repeated-token coverage permille
    "repeated_token_fraction" -> ((s, dir) =>
      Dedup.repeatedTokenFraction(Dedup.withBoilerplate(docs(s, dir)))),
    // the transform the spans feed: text with repeated spans excised
    "strip_repeated_spans" -> ((s, dir) =>
      Dedup.stripRepeatedSpans(Dedup.withBoilerplate(docs(s, dir)))),
    // GPT-3 13-gram rule: training docs sharing a window with the
    // eval split, over the same O(n) rolling window hashes
    "ngram_decontamination" -> ((s, dir) =>
      Dedup.ngramDecontamination(docs(s, dir))),
    "sample_docs" -> ((s, dir) => TextAnalysis.hashSample(docs(s, dir))),
    // whole-doc packing (SFT style): bucket-local next-fit, waste measured
    "bin_pack" -> ((s, dir) => Packing.binPack(docs(s, dir))),
    "bin_pack_stats" -> ((s, dir) => Packing.binPackStats(docs(s, dir))),
    "shard_balance" -> ((s, dir) =>
      graft.sources.Shards.shardBalance(docs(s, dir))),
    "shard_assign" -> ((s, dir) =>
      graft.sources.Shards.shardAssign(docs(s, dir))),
    "weighted_sample" -> ((s, dir) => TextAnalysis.weightedSample(docs(s, dir))),
    "source_mix" -> ((s, dir) => TextAnalysis.sourceMix(docs(s, dir))),
    // redundancy dial: permille of a doc's bigram hashes it introduced
    "ngram_novelty" -> ((s, dir) => TextAnalysis.ngramNovelty(docs(s, dir))),
    // CCNet-style perplexity filter, integer-exact: unigram LM trained
    // on the corpus, per-doc cost in whole bits, keep-gate on the
    // milli-bits-per-token rate
    "unigram_surprisal" -> ((s, dir) =>
      LangModel.unigramSurprisal(docs(s, dir))),
    // held-out bigram LM with unigram backoff: train on the even-doc
    // half, score the odd half (the CCNet deployment shape)
    // interpolated Kneser-Ney: continuation-count smoothing, same split
    "kn_surprisal" -> ((s, dir) => {
      val d = docs(s, dir)
      LangModel.knSurprisal(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // the KN continuation-diversity table itself (the "Francisco" report)
    "kn_continuation" -> ((s, dir) => LangModel.knContinuation(docs(s, dir))),
    // 2-objective Pareto frontiers: curation (length × quality) and
    // analytics (value × recency) instances of the same skyline operator
    "pareto_docs" -> ((s, dir) => Skyline.paretoDocs(docs(s, dir))),
    "pareto_orders" -> ((s, dir) => Skyline.paretoOrders(s, dir)),
    "bigram_surprisal" -> ((s, dir) => {
      val d = docs(s, dir)
      LangModel.bigramSurprisal(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // top-k adjacent-pair collocations by Dice association
    "collocations" -> ((s, dir) => LangModel.collocations(docs(s, dir))),
    // temperature mixing (α=0.5): sample shares ∝ sqrt(source tokens)
    "mixture_weights" -> ((s, dir) =>
      LangModel.mixtureWeights(docs(s, dir))),
    // token-budget epoch plan: per-source repeat factors under the
    // temperature shares (epochs_milli > 1000 = data revisited)
    "epoch_plan" -> ((s, dir) => LangModel.epochPlan(docs(s, dir))),
    // snapshot shift detector: exact L1 distance between the unigram
    // micro-rate distributions of the doc_id-parity halves
    "token_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      LangModel.tokenDrift(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // source-pair unigram L1 matrix: tokenDrift's within-snapshot twin
    // via the shared-token identity (no vocab-union materialization)
    "source_divergence" -> ((s, dir) =>
      LangModel.sourceDivergence(docs(s, dir))),
    "doc_keywords" -> ((s, dir) => TextAnalysis.docKeywords(docs(s, dir))),
    "oov_rate" -> ((s, dir) => TextAnalysis.oovRate(docs(s, dir))),
    "encode_docs" -> ((s, dir) => TextAnalysis.encodeDocs(docs(s, dir))),
    // tokenizer TRAINING: the first 3 learned BPE merges, every round
    // in driver memory after the one corpus-sized word-count aggregate
    "bpe_merges" -> ((s, dir) => graft.llm.Bpe.merges(docs(s, dir))),
    // 8 rounds: the oracle replays a merge history long enough for
    // merged symbols to merge again, bit-for-bit
    "bpe_merges_8" -> ((s, dir) => graft.llm.Bpe.merges(docs(s, dir), rounds = 8)),
    "bpe_encode_8" -> ((s, dir) => graft.llm.Bpe.encode(docs(s, dir), rounds = 8)),
    // WordPiece greedy longest-match over the same 8-round vocab —
    // the OTHER industrial tokenizer apply, directly diffable vs BPE
    "wordpiece_encode_8" -> ((s, dir) =>
      graft.llm.WordPiece.encode(docs(s, dir), rounds = 8)),
    // BERT's real `##` continuation namespace (word-initial vs
    // continuation pieces, whole-word [UNK]) on the CROSS split —
    // train even doc_ids, apply odd, the bpe_encode_cross shape —
    // because on train==apply the namespace is provably inert
    // (WordPieceSpec pins the coincidence); plus the corpus-level
    // fertility price of the namespace discipline on held-out text
    "wordpiece_bert_encode_8" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.WordPiece.encodeBert(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1), rounds = 8)
    }),
    "wordpiece_fertility_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.llm.WordPiece.fertilityDiff(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1), rounds = 8)
    }),
    // tokenizer application: per-doc compression accounting after the
    // learned merges (train -> apply, one corpus scan each)
    "bpe_encode" -> ((s, dir) => graft.llm.Bpe.encode(docs(s, dir))),
    // train-once/apply-many: merges learned on the even-doc half
    // applied (via the reusable-rules API) to the odd half
    "bpe_encode_cross" -> ((s, dir) => graft.llm.Bpe.encodeCross(docs(s, dir))),
    // tokenizer fit report: per-source fertility (symbols per word)
    // and char-compression after the learned merges
    "bpe_fertility" -> ((s, dir) => graft.llm.Bpe.fertility(docs(s, dir))),
    "stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir))),
    "examples_per_source" -> ((s, dir) =>
      TextAnalysis.examplesPerSource(docs(s, dir))),
    "top_quality_per_lang" -> ((s, dir) =>
      TextAnalysis.topQualityPerLang(docs(s, dir))),
    "curation_funnel" -> ((s, dir) =>
      Pipeline.curationFunnel(docs(s, dir))),
    // exact global quality rank + contiguous curriculum shards via the
    // two-phase histogram-prefix rank (no single-partition sort)
    "curriculum_shards" -> ((s, dir) =>
      Pipeline.curriculumShards(docs(s, dir))),
    // per-source quantile normalization of quality (RANK permille via
    // the broadcast (source, quality) histogram — no per-source window)
    "quality_calibration" -> ((s, dir) =>
      Pipeline.qualityCalibration(docs(s, dir))),
    "training_pipeline" -> ((s, dir) =>
      Pipeline.trainingPipeline(Dedup.withExactDups(docs(s, dir)))),
    // the two sketch queries follow the invariant discipline: the
    // engine-specific estimate stays inside the engine; the oracle
    // checks the exact QC side and the 0/1 error/rank verdicts
    "approx_distinct_ngrams" -> ((s, dir) =>
      TextAnalysis.approxDistinctNgrams(docs(s, dir))),
    "token_quantiles_approx" -> ((s, dir) =>
      TextAnalysis.tokenQuantilesApprox(docs(s, dir))),
    "simhash_dedup" -> ((s, dir) =>
      Dedup.simhashDedup(Dedup.withNearDups(docs(s, dir)))),
    "cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir))),
    // contrastive-training hard negatives: top-k cross-label neighbors
    // with the false-negative ceiling and the positive anchor fused
    // into one corpus pass
    "hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir))),
    "ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir))),
    "ivf_recall" -> ((s, dir) =>
      Similarity.ivfRecall(Tables.embeddings(s, dir))),
    "ivf_topk_p3" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), nprobe = 3)),
    "ivf_recall_p3" -> ((s, dir) =>
      Similarity.ivfRecall(Tables.embeddings(s, dir), nprobe = 3)),
    "ivf_topk_km" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), refineIters = 1)),
    "ivf_recall_km" -> ((s, dir) =>
      Similarity.ivfRecall(Tables.embeddings(s, dir), refineIters = 1)),
    "ivf_topk_km2" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), refineIters = 2)),
    "ivf_recall_km2" -> ((s, dir) =>
      Similarity.ivfRecall(Tables.embeddings(s, dir), refineIters = 2)),
    // feature-hashed doc vectors through the shared cosine top-k:
    // text-sourced and embedding-sourced vectors, one similarity stack
    "doc_sim_topk" -> ((s, dir) =>
      Similarity.cosineTopKQ(TextAnalysis.hashVectors(docs(s, dir)))),
    // product quantization: 8-byte codes, asymmetric-LUT scoring
    "pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir))),
    "pq_recall" -> ((s, dir) =>
      Similarity.pqRecall(Tables.embeddings(s, dir))),
    // k-means-refined codebooks (one Lloyd round per subspace)
    "pq_topk_km" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), refineIters = 1)),
    "pq_recall_km" -> ((s, dir) =>
      Similarity.pqRecall(Tables.embeddings(s, dir), refineIters = 1)),
    // composed IVF-PQ: coarse cells bound candidates, codes bound bytes
    "ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir))),
    "ivfpq_recall" -> ((s, dir) =>
      Similarity.ivfPqRecall(Tables.embeddings(s, dir))),
    "ivfpq_topk_p3" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), nprobe = 3)),
    "ivfpq_recall_p3" -> ((s, dir) =>
      Similarity.ivfPqRecall(Tables.embeddings(s, dir), nprobe = 3)),
    // residual encoding (Jégou-style): codes quantize qv − cv
    "ivfpq_topk_res" -> ((s, dir) =>
      Similarity.ivfPqResTopK(Tables.embeddings(s, dir))),
    "ivfpq_recall_res" -> ((s, dir) =>
      Similarity.ivfPqResRecall(Tables.embeddings(s, dir))),
    // residual + multi-probe composed: the highest-recall compressed
    // configuration in the variant matrix
    "ivfpq_topk_res_p3" -> ((s, dir) =>
      Similarity.ivfPqResTopK(Tables.embeddings(s, dir), nprobe = 3)),
    "ivfpq_recall_res_p3" -> ((s, dir) =>
      Similarity.ivfPqResRecall(Tables.embeddings(s, dir), nprobe = 3)),
    // bucket-count migration on the vector side: AnnIndex.rebucket is
    // pure layout (cent_id content untouched), so build(8) →
    // rebucket(16) → query-from-disk must still reproduce the
    // in-memory ivf_topk oracle row-for-row — the oracle-checked form
    // of the op AnnIndexSpec pins through the full lifecycle
    "ann_rebucket_query" -> ((s, dir) => {
      val name = "ann_rebucket_oracle"
      AnnIndex.build(Tables.embeddings(s, dir), name, buckets = 8)
      AnnIndex.rebucket(s, name, 16)
      AnnIndex.query(s, name)
    }),
    // index-maintenance observability: per-cell size/share/skew — the
    // rebuild-vs-append decision signal
    "ann_cell_stats" -> ((s, dir) =>
      Similarity.cellStats(Tables.embeddings(s, dir))),
    // the append-drift lifecycle end-to-end: frozen-centroid appends
    // from a shifted distribution (abs ⇒ the positive orthant) pile
    // vectors into few cells; a delete leaves purge debt; recluster
    // (warm-start Lloyd + reassign + staged swap, subsuming the purge)
    // rebalances. Four per-cell stat snapshots, one per stage — each
    // collected eagerly (≤17 rows) because the stored tables mutate
    // between stages; the oracle recomputes every stage's assignment
    // (and the Lloyd round) from scratch.
    "ann_drift_stats" -> ((s, dir) => {
      val name = "ann_drift_oracle"
      val emb = Tables.embeddings(s, dir)
      val a = emb
        .filter(col("vec_id") < 16 || pmod(col("vec_id"), lit(4)) === 0)
        .select("vec_id", "embedding")
      // float abs only — no arithmetic, so any engine reproduces the
      // drifted batch bit-for-bit
      def drifted(m: Int, off: Long) =
        emb.filter(pmod(col("vec_id"), lit(4)) === m)
          .select((col("vec_id") + off).as("vec_id"),
            transform(col("embedding"), x => abs(x)).as("embedding"))
      AnnIndex.build(a, name)
      def grab(st: String): Seq[(String, Long, Long, Long, Long, Long)] =
        AnnIndex.cellStats(s, name).collect().toSeq.map(r =>
          (st, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
      val st1 = grab("1_post_build")
      AnnIndex.append(drifted(1, 100000L), name)
      val st2 = grab("2_post_append1")
      AnnIndex.append(drifted(2, 200000L), name)
      AnnIndex.delete(drifted(1, 100000L).select("vec_id"), name)
      val st3 = grab("3_post_append2_deleted")
      AnnIndex.recluster(s, name, refineIters = 1)
      val st4 = grab("4_post_recluster")
      val sess = s
      import sess.implicits._
      (st1 ++ st2 ++ st3 ++ st4).toDF(
        "stage", "cent_id", "n_vecs", "share_pm", "skew_pm", "n_tombstones")
    }),
    // the maintenance DECISION surface: same drift lifecycle, but what
    // a scheduler polls — (max_skew_pm, tombstone_pm, action) per
    // stage, integer-exact so DuckDB reproduces the decision. Stage 3
    // deliberately shows the threshold-policy caveat the scaladoc
    // documents: k-means converges to the data's intrinsic clustering,
    // and the |x|-orthant fixture is intrinsically skewed, so the skew
    // signal stays above threshold after the rebalance — a production
    // policy wants hysteresis against a post-recluster baseline.
    "ann_maintenance_plan" -> ((s, dir) => {
      val name = "ann_mx_oracle"
      val emb = Tables.embeddings(s, dir)
      val a = emb
        .filter(col("vec_id") < 16 || pmod(col("vec_id"), lit(4)) === 0)
        .select("vec_id", "embedding")
      def drifted(m: Int, off: Long) =
        emb.filter(pmod(col("vec_id"), lit(4)) === m)
          .select((col("vec_id") + off).as("vec_id"),
            transform(col("embedding"), x => abs(x)).as("embedding"))
      def grab(idx: String, st: String): (String, Long, Long, String) = {
        val r = AnnIndex.maintenancePlan(s, idx).collect().head
        (st, r.getLong(0), r.getLong(1), r.getString(2))
      }
      AnnIndex.build(a, name)
      val s1 = grab(name, "1_fresh")
      AnnIndex.append(drifted(1, 100000L), name)
      AnnIndex.append(drifted(2, 200000L), name)
      AnnIndex.delete(drifted(1, 100000L).select("vec_id"), name)
      val s2 = grab(name, "2_drifted_deleted")
      AnnIndex.recluster(s, name, refineIters = 1)
      // hysteresis (r15): recluster recorded its post-rebalance skew
      // baseline, so the still-high intrinsic skew no longer re-triggers
      // (the r14 threshold-only policy reclustered forever here)...
      val s3 = grab(name, "3_post_recluster")
      // ...but NEW drift past baseline x 1.25 does: another orthant
      // slice appended onto the refined layout re-arms the trigger
      AnnIndex.append(drifted(3, 300000L), name)
      val s5 = grab(name, "5_redrifted")
      val name2 = "ann_mx2_oracle"
      AnnIndex.build(a, name2)
      AnnIndex.delete(
        a.filter(col("vec_id") >= 16 && pmod(col("vec_id"), lit(8)) === 4)
          .select("vec_id"), name2)
      val s4 = grab(name2, "4_tombstones_only")
      val sess = s
      import sess.implicits._
      Seq(s1, s2, s3, s4, s5).toDF(
        "stage", "max_skew_pm", "tombstone_pm", "action")
    }),
    // embedding QC: per-label norm distribution + degenerate count
    "embedding_norm_stats" -> ((s, dir) =>
      Similarity.normStats(Tables.embeddings(s, dir))),
    // per-source centroid coherence: drift/outlier report over the
    // embedding column, keyed by the documents table's source
    "source_centroids" -> ((s, dir) =>
      Similarity.sourceCentroids(docs(s, dir), Tables.embeddings(s, dir))),
    "embedding_near_dup" -> ((s, dir) =>
      Similarity.embeddingNearDup(
        Similarity.withDupVectors(Tables.embeddings(s, dir)))),
    // 1-bit-Hamming multi-probe variant: recovers the ~21% of true
    // cos≥0.99 pairs whose 8-bit SRP buckets differ in one plane
    "embedding_near_dup_mp" -> ((s, dir) =>
      Similarity.embeddingNearDupMp(
        Similarity.withDupVectors(Tables.embeddings(s, dir)))),
    // pair-recall eval of both SRP variants vs brute-force ground
    // truth (the ivf_recall analog for dedup). The corpus is a bounded
    // slice + PERTURBED copies (±2^-4 on ~4 of 64 dims — exactly
    // float32-representable, so any engine reproduces the arithmetic
    // bit-for-bit): cos stays ≥0.99 but a fraction of pairs straddle
    // one SRP sign plane, which is precisely what the recall measures.
    "embedding_dedup_recall" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(10)) === 0)
        .select("vec_id", "embedding")
      val perturbed = base.select(
        (col("vec_id") + 500000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(pmod(col("vec_id") + i, lit(16)) === 0,
            x + when(pmod(col("vec_id") + i, lit(32)) === 0, lit(0.0625f))
              .otherwise(lit(-0.0625f)))
            .otherwise(x)).as("embedding"))
      Similarity.embeddingDedupRecall(base.unionAll(perturbed))
    }),
    // SemDeDup (cluster-scoped semantic dedup): the geometric complement
    // to the SRP hash family — quadratic pair search bounded to k-means
    // cells, greedy lower-id keep with dup_of attribution
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(
        Similarity.withDupVectors(Tables.embeddings(s, dir)))),
    "semantic_dedup_stats" -> ((s, dir) =>
      Similarity.semanticDedupStats(
        Similarity.withDupVectors(Tables.embeddings(s, dir)))),
    // ---- multimodal columns (binary payload + typed metadata) ----
    "media_dedup" -> ((s, dir) =>
      Multimodal.mediaDedup(
        payloadMedia(Dedup.withExactDups(docs(s, dir))))),
    "media_meta" -> ((s, dir) =>
      Multimodal.syntheticMedia(docs(s, dir)).select(
        col("media_id"), col("kind"), col("meta.width"), col("meta.height"),
        col("meta.sample_rate"), col("meta.duration_ms"), col("meta.format"))),
    // REAL decode: ImageIO over genuine BMP, AudioSystem over genuine
    // WAV; the oracle replays the generator arithmetic — agreement
    // proves the decode inverts the encode
    "media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(payloadMedia(docs(s, dir)))
        .toDF()),
    // byte-exact manifest: full payload hex vs the oracle's in-SQL
    // BMP/WAV reconstruction (headers, padding, little-endian fields)
    "media_manifest" -> ((s, dir) =>
      Multimodal.payloadManifest(payloadMedia(docs(s, dir)))),
    // corpus-level rollup of the REAL decode: per-kind decode rates,
    // brightness permille, audio peaks — the media-lake health report
    "media_kind_stats" -> ((s, dir) =>
      Multimodal.extractFeatures(payloadMedia(docs(s, dir)))
        .toDF().groupBy("kind")
        .agg(count(lit(1)).as("n_media"),
          sum("decode_ok").as("n_decoded"),
          sum("n_bytes").as("total_bytes"),
          expr("(1000 * sum(bright_px)) div sum(n_px)").as("bright_pm"),
          max("peak_abs").as("peak_abs_max"))),
    "frame_sample" -> ((s, dir) =>
      Multimodal.frameSamplePlan(Multimodal.syntheticMedia(docs(s, dir)))),
    "resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.syntheticMedia(docs(s, dir)), 640, 360)
        .select("media_id", "kind", "target_width", "target_height")),
    // REAL pixel resize: ImageIO decode + integer NN resample, stats
    // over the resampled raster (the oracle replays the index map)
    "media_resize" -> ((s, dir) =>
      Multimodal.mediaResize(payloadMedia(docs(s, dir)))),
    // REAL audio downsample: AudioSystem decode + integer decimation
    "audio_downsample" -> ((s, dir) =>
      Multimodal.audioDownsample(payloadMedia(docs(s, dir)))),
    // perceptual image fingerprint (dHash) + content-level dup classes
    "image_dhash" -> ((s, dir) =>
      Multimodal.imageDHash(payloadMedia(docs(s, dir)))),
    "image_dhash_dups" -> ((s, dir) => Multimodal.imageDHashDups(
      payloadMedia(Dedup.withExactDups(docs(s, dir))))))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "trend_rows" -> Oracles.trendRows,
    "hashtag_counts" -> Oracles.hashtagCounts,
    "hashtag_counts_salted" -> Oracles.hashtagCounts,
    "mean_sentiment" -> Oracles.meanSentiment,
    "count_join_sentiment" -> Oracles.countJoinSentiment,
    "topn_trends" -> Oracles.topnTrends,
    "country_extract" -> Oracles.countryExtract,
    "clean_text" -> Oracles.cleanTextQ,
    "sentiment_score" -> Oracles.sentimentScore,
    "weighted_sentiment" -> Oracles.weightedSentiment,
    "wire_roundtrip" -> Oracles.wireRoundtrip,
    "wire_scan" -> Oracles.wireScan,
    "sentiment_distribution" -> Oracles.sentimentDistribution,
    "counts_by_country" -> Oracles.countsByCountry,
    "hashtag_timeseries" -> Oracles.hashtagTimeseries,
    "trend_spikes" -> Oracles.trendSpikes,
    "windowed_counts" -> Oracles.windowedCounts,
    "sliding_counts" -> Oracles.slidingCounts,
    "stream_count" -> Oracles.streamCount,
    "user_sessions" -> Oracles.userSessions,
    "session_stats" -> Oracles.sessionStats,
    "event_props" -> Oracles.eventPropStats,
    "event_pivot" -> Oracles.eventTypePivot,
    "event_funnel" -> Oracles.eventFunnel,
    "funnel_latency" -> Oracles.funnelLatency,
    "event_transitions" -> Oracles.eventTransitions,
    "user_retention" -> Oracles.cohortRetention,
    "value_outliers" -> Oracles.valueOutliers,
    "rolling_active_users" -> Oracles.rollingActiveUsers,
    "stateful_sessions" -> Oracles.statefulSessions,
    "session_window_counts" -> Oracles.sessionWindowCounts,
    "asof_join" -> Oracles.asofJoin,
    "q1_agg" -> Oracles.q1Agg,
    "q3_join" -> Oracles.q3Join,
    "q5_region_volume" -> Oracles.q5RegionVolume,
    "revenue_rollup" -> Oracles.revenueRollup,
    "q10_returned" -> Oracles.topReturnedCustomers,
    "q7_volume" -> Oracles.nationVolume,
    "integrity_check" -> Oracles.integrityReport,
    "q4_priority" -> Oracles.returnPriorityCounts,
    "q6_forecast" -> Oracles.discountRevenue,
    "q13_custdist" -> Oracles.customerOrderDistribution,
    "q18_large" -> Oracles.largeQuantityOrders,
    "q21_wait" -> Oracles.soleReturnSuppliers,
    "order_gaps" -> Oracles.repeatPurchaseLatency,
    "basket_pairs" -> Oracles.basketPairs,
    "q8_market_share" -> Oracles.marketShare,
    "q14_promo" -> Oracles.promoShare,
    "q19_bands" -> Oracles.brandBandRevenue,
    "q17_small_qty" -> Oracles.smallQuantityRevenue,
    "q2_min_cost" -> Oracles.minCostSupplier,
    "q11_important_parts" -> Oracles.importantParts,
    "q15_top_supplier" -> Oracles.topSupplier,
    "q16_supplier_cnt" -> Oracles.supplierCount,
    "q20_excess_supp" -> Oracles.excessSuppliers,
    "q22_idle_customers" -> Oracles.idleCustomers,
    "q9_profit" -> Oracles.productProfit,
    "q12_priority_class" -> Oracles.shipPriorityCounts,
    "revenue_cube" -> Oracles.revenueCube,
    "csv_roundtrip" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "json_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "orc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
    "json_column_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "schema_evolution" ->
      """SELECT c_custkey, c_name, 1::BIGINT AS gen,
        |  NULL::VARCHAR AS c_mktsegment FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, 2::BIGINT, c_mktsegment FROM customer""".stripMargin,
    "merge_upsert" -> Oracles.mergeUpsert,
    "expectations_report" -> Oracles.expectationsReport,
    "incremental_rollup" -> Oracles.incrementalRollup,
    "purchase_attribution" -> Oracles.purchaseAttribution,
    "price_histogram" -> Oracles.priceHistogram,
    "value_quantiles_sketch" -> Oracles.valueQuantilesSketch,
    "daily_holt" -> Oracles.dailyHolt,
    "nation_revenue_share" -> Oracles.nationRevenueShare,
    "top_parts_per_nation" -> Oracles.topPartsPerNation,
    "top_parts_native" -> Oracles.topPartsPerNationNative,
    "sql_doc_sentiment" -> Oracles.sqlDocSentiment,
    "new_vs_returning" -> Oracles.newVsReturning,
    "supplier_scorecard" -> Oracles.supplierScorecard,
    "column_stats" -> Oracles.columnStats,
    "hll_users" -> Oracles.hllWeeklyUsers,
    "user_overlap" -> Oracles.userTypeOverlap,
    "daily_ewma" -> Oracles.dailyEwma,
    "event_melt" -> Oracles.eventTypeMelt,
    "session_concurrency" -> Oracles.sessionConcurrency,
    "zorder_layout" -> Oracles.zOrderLayout,
    "customers_by_region" -> Oracles.customersByRegion,
    "order_revenue_salted" -> Oracles.orderRevenueSalted,
    "order_revenue_salted_selective" -> Oracles.orderRevenueSalted,
    "range_join" -> Oracles.rangeJoin,
    "jw_name_pairs" -> Oracles.jaroWinklerPairs,
    "name_clusters" -> Oracles.nameClusters,
    "snm_name_pairs" -> Oracles.sortedNeighborhoodPairs,
    "blocking_comparison" -> Oracles.blockingComparison,
    "snm_multipass_pairs" -> Oracles.sortedNeighborhoodMultipass,
    "canonicalize_names" -> Oracles.canonicalizedNames,
    "cms_part_counts" -> Oracles.cmsPartCounts,
    "pagerank_supply" -> Oracles.pagerankSupply,
    "bfs_levels" -> Oracles.bfsSupply,
    "ppr_supply" -> Oracles.pprSupply,
    "token_stats" -> OraclesLlm.tokenStats,
    "lang_id" -> OraclesLlm.langId,
    "lang_confusion" -> OraclesLlm.langConfusion,
    "quality_score" -> OraclesLlm.qualityScore,
    "gopher_rules" -> OraclesLlm.gopherRules,
    "classifier_weights" -> OraclesLlm.classifierWeights,
    "classifier_score" -> OraclesLlm.classifierScore,
    "classifier_auc" -> OraclesLlm.classifierAuc,
    "classifier_lift" -> OraclesLlm.classifierLift,
    "classifier_pr_curve" -> OraclesLlm.classifierPrCurve,
    "bm25_topk" -> OraclesLlm.bm25TopK,
    "phrase_search" -> OraclesLlm.phraseSearch,
    "semantic_topk" -> OraclesLlm.semanticTopK,
    "hybrid_rrf_topk" -> OraclesLlm.hybridRrfTopK,
    "doc_fingerprint" -> OraclesLlm.docFingerprint,
    "unicode_normalize_stats" -> OraclesLlm.unicodeNormStats,
    "ngram_counts" -> OraclesLlm.ngramCounts,
    "dedup_docs" -> OraclesLlm.dedupDocs,
    "dedup_rate_by_source" -> OraclesLlm.dedupRateBySource,
    "cross_source_overlap" -> OraclesLlm.crossSourceOverlap,
    "corpus_delta" -> OraclesLlm.corpusDelta,
    "minhash_dedup" -> OraclesLlm.minhashDedup,
    "dup_degrees" -> OraclesLlm.dupDegrees,
    "lsh_index_query" -> OraclesLlm.lshIndexQuery,
    // same oracle as lsh_index_query BY DESIGN: the generational
    // layout (cold + staged-uncommitted merging + hot) must be
    // invisible to answers
    "lsh_gen_query" -> OraclesLlm.lshIndexQuery,
    "lsh_gen_stats" -> OraclesLlm.lshGenStats,
    "lsh_delete_query" -> OraclesLlm.lshDeleteQuery,
    // rebucketing is pure layout: the answer is lsh_delete_query's
    "lsh_rebucket_query" -> OraclesLlm.lshDeleteQuery,
    "lsh_purge_query" -> OraclesLlm.lshDeleteQuery,
    "lsh_history_gate" -> OraclesLlm.lshHistoryGate,
    "lsh_bucket_stats" -> OraclesLlm.lshBucketStats,
    "lsh_frag_stats" -> OraclesLlm.lshFragStats,
    "lsh_tuning" -> OraclesLlm.lshTuning,
    "minhash_signatures" -> OraclesLlm.minhashSignatures,
    "ngram_jaccard_pairs" -> OraclesLlm.ngramJaccardPairs,
    "ssjoin_exact" -> OraclesLlm.ssjoinExact,
    "dedup_recall_audit" -> OraclesLlm.dedupRecallAudit,
    "ssjoin_prefix_stats" -> OraclesLlm.ssjoinPrefixStats,
    "dedup_rate_curve" -> OraclesLlm.dedupRateCurve,
    "dedup_clusters" -> OraclesLlm.dedupClusters,
    "leakage_split" -> OraclesLlm.leakageSplit,
    "edit_distance_pairs" -> OraclesLlm.editDistancePairs,
    "edit_distance_pairs_capped" -> OraclesLlm.editDistancePairsCapped,
    "redact_text" -> OraclesLlm.redactText,
    "vocab_df" -> OraclesLlm.vocabDf,
    "heavy_hitters" -> OraclesLlm.heavyHitters,
    "token_quantiles" -> OraclesLlm.tokenQuantiles,
    "token_quantiles_approx" -> OraclesLlm.tokenQuantilesApprox,
    "approx_distinct_ngrams" -> OraclesLlm.approxDistinctNgrams,
    "doc_chunks" -> OraclesLlm.docChunks,
    "doc_repetition" -> OraclesLlm.docRepetition,
    "pack_sequences" -> OraclesLlm.packSequences,
    "bigram_commonness" -> OraclesLlm.bigramCommonness,
    "contamination" -> OraclesLlm.contamination,
    "bloom_contamination" -> OraclesLlm.bloomContamination,
    "bloom_gate_kept" -> OraclesLlm.bloomGateKept,
    "chunk_dedup" -> OraclesLlm.chunkDedup,
    "repeated_spans" -> OraclesLlm.repeatedSpans,
    "ngram_decontamination" -> OraclesLlm.ngramDecontamination,
    "repeated_token_fraction" -> OraclesLlm.repeatedTokenFraction,
    "strip_repeated_spans" -> OraclesLlm.stripRepeatedSpans,
    "sample_docs" -> OraclesLlm.sampleDocs,
    "shard_assign" -> OraclesLlm.shardAssign,
    "shard_balance" -> OraclesLlm.shardBalance,
    "bin_pack" -> OraclesLlm.binPack,
    "bin_pack_stats" -> OraclesLlm.binPackStats,
    "weighted_sample" -> OraclesLlm.weightedSample,
    "source_mix" -> OraclesLlm.sourceMix,
    "ngram_novelty" -> OraclesLlm.ngramNovelty,
    "unigram_surprisal" -> OraclesLlm.unigramSurprisal,
    "bigram_surprisal" -> OraclesLlm.bigramSurprisal,
    "kn_surprisal" -> OraclesLlm.knSurprisal,
    "kn_continuation" -> OraclesLlm.knContinuation,
    "pareto_docs" -> OraclesLlm.paretoDocs,
    "pareto_orders" -> Oracles.paretoOrders,
    "collocations" -> OraclesLlm.collocations,
    "mixture_weights" -> OraclesLlm.mixtureWeights,
    "epoch_plan" -> OraclesLlm.epochPlan,
    "token_drift" -> OraclesLlm.tokenDrift,
    "source_divergence" -> OraclesLlm.sourceDivergence,
    "doc_keywords" -> OraclesLlm.docKeywords,
    "oov_rate" -> OraclesLlm.oovRate,
    "encode_docs" -> OraclesLlm.encodeDocs,
    "bpe_merges" -> OraclesLlm.bpeMerges,
    "bpe_encode" -> OraclesLlm.bpeEncode,
    "bpe_merges_8" -> OraclesLlm.bpeMerges8,
    "bpe_encode_8" -> OraclesLlm.bpeEncode8,
    "wordpiece_encode_8" -> OraclesLlm.wordpieceEncode8,
    "wordpiece_bert_encode_8" -> OraclesLlm.wordpieceBertEncode8,
    "wordpiece_fertility_diff" -> OraclesLlm.wordpieceFertilityDiff,
    "bpe_encode_cross" -> OraclesLlm.bpeEncodeCross,
    "bpe_fertility" -> OraclesLlm.bpeFertility,
    "stratified_sample" -> OraclesLlm.stratifiedSample,
    "examples_per_source" -> OraclesLlm.examplesPerSource,
    "top_quality_per_lang" -> OraclesLlm.topQualityPerLang,
    "curation_funnel" -> OraclesLlm.curationFunnel,
    "curriculum_shards" -> OraclesLlm.curriculumShards,
    "quality_calibration" -> OraclesLlm.qualityCalibration,
    "training_pipeline" -> OraclesLlm.trainingPipeline,
    "simhash_dedup" -> OraclesLlm.simhashDedup,
    "cosine_topk" -> OraclesLlm.cosineTopK,
    "hard_negatives" -> OraclesLlm.hardNegatives,
    "ivf_topk" -> OraclesLlm.ivfTopK,
    "ivf_recall" -> OraclesLlm.ivfRecall,
    "ivf_topk_p3" -> OraclesLlm.ivfTopKP3,
    "ivf_recall_p3" -> OraclesLlm.ivfRecallP3,
    "ivf_topk_km" -> OraclesLlm.ivfTopKKm,
    "ivf_recall_km" -> OraclesLlm.ivfRecallKm,
    "ivf_topk_km2" -> OraclesLlm.ivfTopKKm2,
    "ivf_recall_km2" -> OraclesLlm.ivfRecallKm2,
    "doc_sim_topk" -> OraclesLlm.docSimTopK,
    "pq_topk" -> OraclesLlm.pqTopK,
    "pq_recall" -> OraclesLlm.pqRecall,
    "pq_topk_km" -> OraclesLlm.pqTopKKm,
    "pq_recall_km" -> OraclesLlm.pqRecallKm,
    "ivfpq_topk" -> OraclesLlm.ivfPqTopK,
    "ivfpq_recall" -> OraclesLlm.ivfPqRecall,
    "ivfpq_topk_p3" -> OraclesLlm.ivfPqTopKP3,
    "ivfpq_recall_p3" -> OraclesLlm.ivfPqRecallP3,
    "ivfpq_topk_res" -> OraclesLlm.ivfPqResTopK,
    "ivfpq_recall_res" -> OraclesLlm.ivfPqResRecall,
    "ivfpq_topk_res_p3" -> OraclesLlm.ivfPqResTopKP3,
    "ivfpq_recall_res_p3" -> OraclesLlm.ivfPqResRecallP3,
    // rebucketing is pure layout: the answer is ivf_topk's
    "ann_rebucket_query" -> OraclesLlm.ivfTopK,
    "ann_cell_stats" -> OraclesLlm.annCellStats,
    "ann_drift_stats" -> OraclesLlm.annDriftStats,
    "ann_maintenance_plan" -> OraclesLlm.annMaintenancePlan,
    "embedding_norm_stats" -> OraclesLlm.embeddingNormStats,
    "embedding_near_dup" -> OraclesLlm.embeddingNearDup,
    "embedding_near_dup_mp" -> OraclesLlm.embeddingNearDupMp,
    "embedding_dedup_recall" -> OraclesLlm.embeddingDedupRecall,
    "semantic_dedup" -> OraclesLlm.semanticDedup,
    "source_centroids" -> OraclesLlm.sourceCentroids,
    "semantic_dedup_stats" -> OraclesLlm.semanticDedupStats,
    "media_dedup" -> OraclesLlm.mediaDedup,
    "media_meta" -> OraclesLlm.mediaMeta,
    "media_features" -> OraclesLlm.mediaFeatures,
    "media_manifest" -> OraclesLlm.mediaManifest,
    "media_kind_stats" -> OraclesLlm.mediaKindStats,
    "frame_sample" -> OraclesLlm.frameSample,
    "resize_plan" -> OraclesLlm.resizePlan,
    "media_resize" -> OraclesLlm.mediaResize,
    "audio_downsample" -> OraclesLlm.audioDownsample,
    "image_dhash" -> OraclesLlm.imageDHash,
    "image_dhash_dups" -> OraclesLlm.imageDHashDups)
}
