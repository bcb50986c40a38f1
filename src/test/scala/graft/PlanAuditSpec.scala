package graft

import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Executable plan audit: the invariants PLANS.md documents, asserted
  * in CI so a plan regression (an accidental cartesian, a lost
  * broadcast, a filter that stopped pushing down, a scan that reads
  * whole rows for a narrow projection) fails the suite instead of
  * waiting for a human to re-read explain output.
  *
  * Plans are built at sf0.001 (smallest driver data) — the audited
  * properties are structural, not size-dependent, except broadcast
  * selection which the tiny tables make MORE likely, so a broadcast
  * assertion failing here means it would certainly fail at scale. */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def available = new java.io.File(sfDir).isDirectory

  private def planOf(name: String): Seq[SparkPlan] = {
    graft.functions.GraftExtensions.register(spark)
    planNodes(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
  }

  test("q1_agg's optimized plan rounds with RoundHalfUpLong, not Round") {
    assume(available, "driver testdata not present")
    val plan = SparkEntry.queries("q1_agg")(spark, sfDir).queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[Round]), plan.toString)
    assert(exprs.exists(_.isInstanceOf[graft.functions.RoundHalfUpLong]), plan.toString)
  }

  test("no registered query plans a CartesianProduct") {
    assume(available, "driver testdata not present")
    SparkEntry.queries.keys.foreach { name =>
      val cart = planOf(name).collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  test("LSH/banding dedup joins broadcast their slim sides") {
    assume(available, "driver testdata not present")
    Seq("minhash_dedup", "simhash_dedup", "ngram_jaccard_pairs").foreach { name =>
      val bhj = planOf(name).collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$name lost its broadcast joins")
    }
  }

  test("pack_sequences joins its bucket offsets by broadcast (docs never shuffle for the join)") {
    assume(available, "driver testdata not present")
    val plan = planOf("pack_sequences")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "bucket-offset join lost its broadcast")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "pack_sequences plans a sort-merge join")
  }

  test("stateless text operators plan zero exchanges") {
    assume(available, "driver testdata not present")
    Seq("clean_text", "sentiment_score", "doc_fingerprint", "redact_text",
      "token_stats", "lang_id", "quality_score", "media_meta",
      "sample_docs", "stratified_sample", "doc_chunks").foreach { name =>
      val ex = planOf(name).collect { case e: Exchange => e }
      assert(ex.isEmpty,
        s"$name is a stateless projection but plans ${ex.length} exchange(s)")
    }
  }

  test("q1_agg pushes its date filter into the parquet scan and prunes columns") {
    assume(available, "driver testdata not present")
    val scans = planOf("q1_agg").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata.getOrElse("PushedFilters", "")
      .contains("LessThanOrEqual(l_shipdate"),
      s"date filter not pushed: ${scan.metadata.get("PushedFilters")}")
    // lineitem is 16 columns wide; q1 needs 6
    assert(scan.requiredSchema.length <= 6,
      s"q1_agg scan reads ${scan.requiredSchema.length} columns")
  }

  test("top-k queries rank via bounded aggregators, not per-key window sorts") {
    assume(available, "driver testdata not present")
    // (ivf queries keep ONE intentional window: nprobe cell ranking over
    // the nQueries x nCentroids rows — bounded by construction)
    Seq("cosine_topk", "topn_trends", "top_quality_per_lang").foreach { name =>
      val windows = planOf(name).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"$name ranks with a window again — a hot key funnels into one sort task")
    }
    Seq("ivf_topk", "ivf_topk_p3").foreach { name =>
      val windows = planOf(name).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.length <= 1,
        s"$name plans ${windows.length} windows — probe ranking regressed to a window")
    }
  }

  test("top-k queries plan the custom TopKPerKeyExec (two-phase: partial + final)") {
    assume(available, "driver testdata not present")
    // round 12 routed the whole bounded-top-k family through the custom
    // operator; this pins the routing so a refactor can't silently fall
    // back to the window or the typed aggregator. Exactly TWO exec
    // nodes per query = the partial/final pair (like hash aggregation).
    Seq("top_parts_native", "cosine_topk", "doc_sim_topk",
      "top_quality_per_lang", "topn_trends", "ivf_topk").foreach { name =>
      val execs = planOf(name).collect {
        case e: graft.plans.TopKPerKeyExec => e
      }
      assert(execs.length == 2,
        s"$name must plan the two-phase TopKPerKeyExec, found ${execs.length}")
      assert(execs.count(_.partial) == 1 && execs.count(!_.partial) == 1,
        s"$name: expected one partial + one final phase")
    }
  }

  test("dedup-family shuffles never carry the raw text column") {
    assume(available, "driver testdata not present")
    // The core 100 TB dedup claim: every stateful/shuffling dedup stage
    // keys on digests, hashes, or sketches — the text column must be
    // projected away before any KEYED Exchange, or the shuffle ships
    // the corpus bytes instead of fixed-size keys. (Queries whose
    // OUTPUT is text — sample_docs, strip_repeated_spans — are not in
    // this list; their shuffles are output-shaped, not key-shaped.)
    //
    // Exempted: ROUND-ROBIN exchanges carrying text —
    // [[graft.Tables.spread]]'s under-split guard, which moves the
    // payload bytes scan → tokenizer tasks before they are hashed away
    // (guide §8's "heavy bytes move once"; §2.5 input skew). On a
    // production-layout table the guard never fires and the exchange
    // does not exist; the keyed (hash/range) shuffles above it stay
    // slim at every scale, which is the claim this audit protects.
    // The invariant asserted below is per-LINEAGE, not per-plan: no
    // text-carrying exchange may sit ABOVE another (the same payload
    // moving twice); SIBLING round-robin exchanges over disjoint
    // sources are allowed (contamination spreads its train and eval
    // slices separately), and the per-source count is additionally
    // bounded by the distinct-text-leaf assertion at the end.
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    Seq("dedup_docs", "minhash_dedup", "simhash_dedup", "chunk_dedup",
      "ngram_jaccard_pairs", "ssjoin_exact", "ssjoin_prefix_stats",
      "contamination", "bloom_contamination",
      "dedup_clusters", "dedup_rate_by_source", "embedding_near_dup",
      "lsh_index_query").foreach { name =>
      val nodes = planOf(name)
      val textExchanges = nodes.collect {
        case e: Exchange if e.output.exists(_.name == "text") => e
      }
      val keyed = textExchanges.filterNot(
        _.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      assert(keyed.isEmpty,
        s"$name shuffles the raw text column through ${keyed.length} " +
          "KEYED exchange(s)")
      // plan-tree copies of one canonical exchange are fine (Spark's
      // ReuseExchange collapses them at runtime), and DISJOINT inputs
      // may each move once (contamination spreads its train and eval
      // slices separately). What must never appear is a text-carrying
      // exchange stacked ABOVE another — that is the same payload
      // moving twice.
      textExchanges.foreach { e =>
        val stacked = e.child.collect {
          case c: Exchange if c.output.exists(_.name == "text") => c
        }
        assert(stacked.isEmpty,
          s"$name stacks a text-carrying exchange above another - " +
            "the raw payload must move at most once")
      }
      // the promised per-source bound: canonically-distinct round-robin
      // text exchanges may not outnumber the canonically-distinct
      // text-carrying leaves — each disjoint input may move once, but
      // two distinct sibling round-robin moves of the SAME source would
      // be the payload shipped twice without ReuseExchange collapsing it
      val rrCanon = textExchanges
        .filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
        .map(_.canonicalized).distinct
      val textLeafCanon = nodes
        .filter(n => n.children.isEmpty && n.output.exists(_.name == "text"))
        .map(_.canonicalized).distinct
      assert(rrCanon.size <= textLeafCanon.size,
        s"$name plans ${rrCanon.size} distinct round-robin text " +
          s"exchanges over only ${textLeafCanon.size} distinct text " +
          "leaves - some payload moves twice")
    }
  }

  test("trend queries keep the sentiment scorer native (no UDF nodes anywhere)") {
    assume(available, "driver testdata not present")
    SparkEntry.queries.keys.foreach { name =>
      val plan = planOf(name).map(_.toString).mkString("\n")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name plans a UDF")
    }
  }

  test("subquery shapes: hash semi/anti joins; nested loops only for 1-row broadcasts") {
    assume(available, "driver testdata not present")
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    def joinTypes(name: String) =
      planOf(name).collect { case j: BaseJoinExec => j.joinType }
    // NOT IN / nested IN lower to hash anti/semi joins
    assert(joinTypes("q16_supplier_cnt").contains(LeftAnti),
      "q16 lost its anti join")
    assert(joinTypes("q20_excess_supp").count(_ == LeftSemi) >= 2,
      "q20 lost its stacked semi joins")
    assert(joinTypes("q22_idle_customers").contains(LeftAnti),
      "q22 lost its anti join")
    assert(joinTypes("q2_min_cost").nonEmpty &&
      joinTypes("q9_profit").nonEmpty)
  }

  test("registry-wide: every BroadcastNestedLoopJoin has a row-bounded side") {
    assume(available, "driver testdata not present")
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // A BNLJ is O(|left|·|right|) — acceptable ONLY when one side is
    // provably tiny: a global aggregate (1 row, the scalar-subquery
    // shape: q11/q15/q22, the sketch broadcasts, kn_surprisal's
    // overflow-guard stats join) or an explicit bounded LIMIT (a
    // driver-chosen k, ≤ centroids/probes for the ann stats). Round 13
    // guarded only six named queries and left the rest to prose; this
    // asserts it for EVERY registered query, so a refactor that lets a
    // fact-sized side into a nested loop fails here instead of
    // becoming a 100 TB cartesian-in-disguise.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // structurally row-bounded: a GLOBAL aggregate (empty grouping =
    // exactly 1 row), a global limit / top-k, or a driver-local
    // relation. A grouped aggregate is NOT structurally bounded — its
    // cardinality is the key domain's — so queries whose broadcast
    // side is bounded by DOMAIN knowledge (e.g. per-centroid stats,
    // ≤ the k-means k of 16) must be allowlisted by name with the
    // bound written down.
    def bounded(p: SparkPlan): Boolean = planNodes(p).exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case _ => false
    }
    // Domain-bounded exemptions, each with its exact BNL count PINNED
    // (profiled at sf0.001/0.01/0.1 — identical at each),
    // so an EXTRA nested loop sneaking into an exempted query still
    // fails. The bounds the structural check can't see:
    //  - probe: Filter(vec_id/doc_id < nQueries literal) on the unique
    //    id — request-sized (5 rows);
    //  - params: seed centroids / codebook relations, ≤ 16 / PqM·PqK
    //    rows by the k-means/PQ constants;
    //  - median: Filter(rn = (n+1) div 2) over a window — ≤ 1 row.
    val allowlisted: Map[String, (Int, String)] = Map(
      "cosine_topk" -> (1, "probe"),
      "doc_sim_topk" -> (1, "probe"),
      "hard_negatives" -> (1, "probe"),
      "funnel_latency" -> (1, "median"),
      "ann_cell_stats" -> (3, "probe+params"),
      "embedding_dedup_recall" -> (3, "probe+params (SRP planes)"),
      "semantic_dedup" -> (6, "probe+params (SRP planes)"),
      "semantic_dedup_stats" -> (6, "probe+params (SRP planes)"),
      // persisted-index read path: probes = Filter(vec_id < 5) ⋈
      // broadcast(stored centroids, ≤ 16 rows by the k-means k) —
      // the table-read twin of ivf_topk's probe+params, minus the
      // in-query seed/refine loops
      "ann_rebucket_query" -> (1, "probe+params (stored centroids)"),
      "ivf_topk" -> (2, "probe+params"),
      "ivf_topk_p3" -> (2, "probe+params"),
      "ivf_topk_km" -> (4, "probe+params, ×Lloyd rounds"),
      "ivf_topk_km2" -> (6, "probe+params, ×Lloyd rounds"),
      "ivf_recall" -> (3, "probe+params, brute+ivf sides"),
      "ivf_recall_p3" -> (3, "probe+params, brute+ivf sides"),
      "ivf_recall_km" -> (5, "probe+params, ×Lloyd rounds"),
      "ivf_recall_km2" -> (7, "probe+params, ×Lloyd rounds"),
      "pq_recall" -> (1, "probe+params"),
      "pq_recall_km" -> (1, "probe+params"),
      "ivfpq_topk" -> (2, "probe+params"),
      "ivfpq_topk_p3" -> (2, "probe+params"),
      "ivfpq_topk_res" -> (5, "probe+params, residual LUT/cross"),
      "ivfpq_topk_res_p3" -> (5, "probe+params, residual LUT/cross"),
      "ivfpq_recall" -> (3, "probe+params, brute+pq sides"),
      "ivfpq_recall_p3" -> (3, "probe+params, brute+pq sides"),
      "ivfpq_recall_res" -> (6, "probe+params, residual sides"),
      "ivfpq_recall_res_p3" -> (6, "probe+params, residual sides"))
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.foreach { name =>
      val bnls = planOf(name).collect { case j: BroadcastNestedLoopJoinExec => j }
      allowlisted.get(name) match {
        case Some((maxBnls, why)) =>
          if (bnls.length > maxBnls)
            offenders += s"$name: ${bnls.length} BNLJs exceed the " +
              s"allowlisted $maxBnls ($why) — a new nested loop appeared"
        case None => bnls.foreach { j =>
          val build = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          if (!bounded(build))
            offenders += s"$name: BNLJ whose broadcast side is not row-bounded"
        }
      }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }

  test("join-strategy pin: shuffle joins are exactly the declared set, at every sf") {
    assume(available, "driver testdata not present")
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    // The regression this catches: a broadcast side silently outgrowing
    // the threshold (or a hint lost in a refactor) flips a join to
    // sort-merge/shuffled-hash — previously only a PLANS.md diff a
    // human had to notice. Declared below is the full set of queries
    // that INTENTIONALLY plan shuffle joins (recall audits and rebuild
    // comparisons joining two corpus-derived sides, the TPC-H big-big
    // joins, merge/range/cluster ops); everything else must stay
    // broadcast-only (or joinless). Counts were profiled with
    // graft.JoinProfile at sf0.001 / sf0.01 / sf0.1 (identical except
    // the two scale-adaptive queries) and the pin is asserted at EVERY
    // available sf so a flip at a bigger scale factor fails here too.
    val expectedSmj = Map(
      "blocking_comparison" -> 1, "corpus_delta" -> 1,
      "dedup_clusters" -> 1, "dedup_recall_audit" -> 1,
      "hybrid_rrf_topk" -> 1, "ivf_recall" -> 1, "ivf_recall_km" -> 1,
      "ivf_recall_km2" -> 1, "ivf_recall_p3" -> 1, "ivfpq_recall" -> 2,
      "ivfpq_recall_p3" -> 2, "ivfpq_recall_res" -> 1,
      "ivfpq_recall_res_p3" -> 1, "ivfpq_topk" -> 1, "ivfpq_topk_p3" -> 1,
      "leakage_split" -> 2, "merge_upsert" -> 1, "name_clusters" -> 1,
      "pq_recall" -> 1, "pq_recall_km" -> 1, "q17_small_qty" -> 1,
      "q5_region_volume" -> 1, "range_join" -> 1, "semantic_dedup" -> 2,
      "semantic_dedup_stats" -> 2, "snm_multipass_pairs" -> 1,
      "token_drift" -> 2)
    // scale-adaptive: their lineitem/orders sides cross the broadcast
    // threshold between sf0.001 and sf0.1 — the stats-based planner is
    // SUPPOSED to flip these to sort-merge as the fact tables grow, so
    // the pin fixes the total join count and the allowed strategies,
    // not the split between them
    val scaleAdaptive = Map("q7_volume" -> 5, "q8_market_share" -> 7)
    val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(d => new java.io.File(d).isDirectory)
    // eager-lifecycle queries run the FULL ANN build/append/delete/
    // recluster at query-CONSTRUCTION time and then plan a mere
    // LocalTableScan — pinning their (joinless) plan at three SFs is
    // vacuous while costing corpus-scale work per SF in CI (r14
    // advisor finding); profile them only at the smallest SF
    // lsh_gen_query rides along: its constructor runs buildGen + a
    // full staged merge per SF, while its join shapes are
    // lsh_index_query's (pinned at every SF) times three generations —
    // smallest-SF profiling keeps the plan pin without the CI cost
    val eagerLifecycle =
      Set("ann_drift_stats", "ann_maintenance_plan", "lsh_gen_query",
        "lsh_gen_stats")
    sfDirs.foreach { dir =>
      val offenders = scala.collection.mutable.ArrayBuffer[String]()
      SparkEntry.queries.keys
        .filterNot(n => eagerLifecycle(n) && dir != sfDirs.head)
        .foreach { name =>
        graft.functions.GraftExtensions.register(spark)
        // count of each physical join strategy in the (pre-AQE)
        // executed plan
        val prof = planNodes(
          SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan).collect {
          case _: BroadcastHashJoinExec => "broadcast_hash"
          case _: SortMergeJoinExec => "sort_merge"
          case _: ShuffledHashJoinExec => "shuffled_hash"
          case _: BroadcastNestedLoopJoinExec => "broadcast_nested_loop"
          case _: CartesianProductExec => "cartesian"
        }.groupBy(identity).map { case (k, v) => (k, v.size) }
        val smj = prof.getOrElse("sort_merge", 0)
        val shj = prof.getOrElse("shuffled_hash", 0)
        if (shj != 0)
          offenders += s"$dir $name: plans $shj shuffled-hash join(s)"
        scaleAdaptive.get(name) match {
          case Some(total) =>
            val joins = prof.values.sum
            if (joins != total || prof.keySet.exists(
                k => k != "broadcast_hash" && k != "sort_merge"))
              offenders += s"$dir $name: joins $prof, expected $total " +
                "broadcast_hash/sort_merge"
          case None =>
            if (smj != expectedSmj.getOrElse(name, 0))
              offenders += s"$dir $name: $smj sort-merge join(s), " +
                s"declared ${expectedSmj.getOrElse(name, 0)}"
        }
      }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    }
  }

  test("merge_upsert resolves through one full-outer join, no extra passes") {
    assume(available, "driver testdata not present")
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val joins = planOf("merge_upsert").collect { case j: BaseJoinExec => j }
    assert(joins.map(_.joinType) == Seq(FullOuter),
      s"merge must be exactly one full-outer join, got ${joins.map(_.joinType)}")
  }

  test("jw_name_pairs: blocked equi-join candidates, JW scalar inside codegen") {
    assume(available, "driver testdata not present")
    val plan = planOf("jw_name_pairs")
    // candidates come from an equi-join on the block keys — any
    // nested-loop here would mean the blocking degenerated to all-pairs
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "blocking degenerated to a nested-loop join")
    assert(plan.collect { case j: BaseJoinExec => j }.nonEmpty)
    // the native expression evaluates inside a WholeStageCodegen span —
    // the whole point of an Expression over a UDF. Codegen stages only
    // exist in AQE's FINAL plan, so execute first, then audit.
    val df = SparkEntry.queries("jw_name_pairs")(spark, sfDir)
    df.collect()
    val codegen = planNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.exists(_.toString.contains("graft_jaro_winkler")),
      "graft_jaro_winkler fell out of whole-stage codegen")
  }

  test("cms_part_counts: the only nested loop is the 1-row sketch broadcast") {
    assume(available, "driver testdata not present")
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val bnlj = planOf("cms_part_counts")
      .collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size == 1, s"expected exactly the sketch BNLJ, got ${bnlj.size}")
    assert(bnlj.head.toString.contains("Aggregate") ||
      Seq(bnlj.head.left, bnlj.head.right)
        .exists(_.toString.contains("Aggregate")),
      "sketch side of the BNLJ is not a 1-row aggregate")
  }
}
