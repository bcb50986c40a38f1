package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cross-engine determinism: embeddings are quantized by
  * `floor(x * 8192)` — float→double widening and a power-of-two scale
  * are both EXACT in IEEE arithmetic, so Spark and any SQL oracle
  * compute identical integer vectors, exact integer dot products, and
  * bit-identical cosines (sqrt/÷ are correctly rounded on both).
  *
  * Scale design:
  *   - brute-force top-k: the query set is broadcast (it is small by
  *     definition); the corpus is scanned once, partial top-k per
  *     partition via window rank — no corpus shuffle beyond the rank.
  *   - LSH: sign-random-projection buckets from deterministic integer
  *     hyperplanes; the self-join is per-bucket, never all-pairs. The
  *     same recipe is the building block of an IVF index (bucket =
  *     coarse centroid id).
  */
object Similarity {

  val QuantScale = 8192d // power of two ⇒ exact product in double

  /** Quantized integer vector of a float-array column. */
  def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(QuantScale)).cast("long"))

  /** Exact integer dot product of two quantized vectors — planned as the
    * native [[graft.functions.DotQExpression]] (generated tight loop);
    * [[dotQHof]] is the column-form twin for equivalence tests. */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.SketchExpressions.dotQCol(a, b)

  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Squared L2 norm of a quantized vector (exact integer). */
  def norm2Q(a: Column): Column =
    aggregate(a, lit(0L), (acc, x) => acc + x * x)

  /** Cosine of two quantized vectors: exact integer dot over the product
    * of correctly-rounded square roots — deterministic double. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(norm2Q(a).cast("double")) * sqrt(norm2Q(b).cast("double")))

  /** One scored candidate for [[TopKAgg]]. */
  final case class Hit(cos: Double, vecId: Long)

  /** Exact bounded top-k as a typed Aggregator: the buffer is the
    * current top-k (cos desc, vec_id asc tiebreak), `reduce` inserts,
    * `merge` merges two sorted buffers — associative/commutative, so it
    * partial-aggregates map-side. At scale each partition ships at most
    * k hits per query instead of funneling the whole scored corpus into
    * one task's window sort (the shape [[TrendPipeline.dedupTrends]]
    * chose for the same reason, and SkewSpec measures). */
  final class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Hit, List[Hit], List[Hit]] {
    private def better(a: Hit, b: Hit): Boolean =
      a.cos > b.cos || (a.cos == b.cos && a.vecId < b.vecId)
    def zero: List[Hit] = Nil
    def reduce(b: List[Hit], h: Hit): List[Hit] = merge(b, List(h))
    def merge(l: List[Hit], r: List[Hit]): List[Hit] = {
      // merge of two sorted lists, truncated at k (k is small)
      val out = scala.collection.mutable.ListBuffer[Hit]()
      var (a, b) = (l, r)
      while (out.length < k && (a.nonEmpty || b.nonEmpty)) {
        if (b.isEmpty || (a.nonEmpty && better(a.head, b.head))) {
          out += a.head; a = a.tail
        } else { out += b.head; b = b.tail }
      }
      out.toList
    }
    def finish(b: List[Hit]): List[Hit] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[List[Hit]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Hit]]()
    def outputEncoder: org.apache.spark.sql.Encoder[List[Hit]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Hit]]()
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors by cosine (excluding self), rank and a
    * 6-dp score. Ranking uses the full-precision cosine with vec_id
    * tiebreak, so order is engine-independent. Planned as a [[TopKAgg]]
    * hash aggregate, NOT a per-query window: the window would shuffle
    * every scored corpus row to one task per query and sort the whole
    * corpus there; the aggregator ships ≤ k hits per (query, partition). */
  def cosineTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    cosineTopKQ(embeddings.select(col("vec_id"),
      quantize(col("embedding")).as("qv")), nQueries, k)

  /** [[cosineTopK]] over ALREADY-quantized integer vectors — shared by
    * the embedding path and the feature-hashed document vectors
    * ([[TextAnalysis.hashVectors]]). */
  def cosineTopKQ(vecs: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    // norms staged per vector — recomputing them per (query, candidate)
    // pair would redo a 64-element fold n_queries times per corpus row
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv"))
      .withColumn("qn", sqrt(norm2Q(col("qv")).cast("double")))
    val c = vecs
      .select(col("vec_id"), col("qv").as("cv"))
      .withColumn("cn", sqrt(norm2Q(col("cv")).cast("double")))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dotQ(col("qv"), col("cv")).cast("double") / (col("qn") * col("cn")))
          .as("cos"))
    topKByQuery(scored, k)
  }

  /** (query_id, vec_id, cos) → per-query top-k rows, ranked by the
    * custom heap-per-key physical operator
    * ([[graft.plans.TopKPerKey]]): the same two-phase partial/final
    * shape as [[TopKAgg]] (shuffle carries ≤ |map partitions|·k rows
    * per query), but expressed at the PLAN level — no typed
    * serialization boundary around the scored rows, a codegen'd
    * ordering over (cos DESC, vec_id ASC), and the whole similarity
    * stack (brute / IVF / PQ / IVF-PQ / persisted index) routes
    * through the one operator. Ranking uses the full-precision cosine;
    * the 6-dp rounding is display-only, applied after. */
  private[graft] def topKByQuery(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey.topK(scored, Seq("query_id"), "cos", "vec_id", k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos"), 6).as("score"), col("rank"))

  /** One labeled candidate for [[HardNegAgg]]. */
  final case class LHit(isPos: Boolean, cos: Double, vecId: Long)

  /** [[HardNegAgg]] buffer: running positive-anchor max + negative
    * top-k. `pos = -2.0` is the "no positive seen" sentinel (cosine is
    * ≥ -1, so it can never collide with a real anchor). */
  final case class HNBuf(pos: Double, hits: List[Hit])

  /** Fused per-query aggregate for hard-negative mining: ONE pass over
    * the scored candidates keeps both the positive anchor (max cosine
    * over same-label candidates) and the bounded top-k of negatives —
    * splitting these into two aggregations would scan and score the
    * corpus twice. Associative/commutative like [[TopKAgg]] (whose
    * merge it reuses), so it partial-aggregates map-side and each
    * partition ships ≤ k negatives + one double per query. */
  final class HardNegAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[LHit, HNBuf, HNBuf] {
    private val top = new TopKAgg(k)
    def zero: HNBuf = HNBuf(-2.0, Nil)
    def reduce(b: HNBuf, h: LHit): HNBuf =
      if (h.isPos) HNBuf(math.max(b.pos, h.cos), b.hits)
      else HNBuf(b.pos, top.merge(b.hits, List(Hit(h.cos, h.vecId))))
    def merge(l: HNBuf, r: HNBuf): HNBuf =
      HNBuf(math.max(l.pos, r.pos), top.merge(l.hits, r.hits))
    def finish(b: HNBuf): HNBuf = b
    def bufferEncoder: org.apache.spark.sql.Encoder[HNBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[HNBuf]()
    def outputEncoder: org.apache.spark.sql.Encoder[HNBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[HNBuf]()
  }

  /** Hard-negative mining for contrastive retrieval training (the
    * ANCE/RocketQA move): for each query vector, the k most-similar
    * corpus vectors with a DIFFERENT label — the negatives a dense
    * retriever actually confuses, which train far better than random
    * ones. Two standard guards:
    *   - false-negative filter: candidates with cosine ≥ `maxCos` are
    *     dropped (RocketQA's denoising — a "negative" nearly identical
    *     to the query is almost certainly a mislabeled positive);
    *   - the per-query positive anchor (max same-label cosine,
    *     `pos_score`) rides along, so a consumer can margin-filter
    *     (negatives too close to the anchor) without re-scoring.
    *     NULL if the query's label has no other member.
    *
    * Scale shape: identical to [[cosineTopKQ]] — queries broadcast,
    * one corpus scan, and the fused [[HardNegAgg]] ships ≤ k hits +
    * one anchor per (query, partition); no window sort, no second
    * scan for the anchor. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
                    maxCos: Double = 0.95): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qv"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qv").as("qqv"))
      .withColumn("qn", sqrt(norm2Q(col("qqv")).cast("double")))
    val c = vecs.withColumn("cn", sqrt(norm2Q(col("qv")).cast("double")))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        (col("label") === col("q_label")).as("is_pos"),
        col("vec_id"),
        (dotQ(col("qqv"), col("qv")).cast("double") / (col("qn") * col("cn")))
          .as("cos"))
      .filter(col("is_pos") || col("cos") < lit(maxCos))
    scored.as[(Long, Boolean, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => LHit(t._2, t._4, t._3))
      .agg(new HardNegAgg(k).toColumn.name("w"))
      .toDF("query_id", "w")
      .select(col("query_id"),
        when(col("w.pos") >= -1d, round(col("w.pos"), 6)).as("pos_score"),
        posexplode(col("w.hits")))
      .select(col("query_id"), col("col.vecId").as("vec_id"),
        round(col("col.cos"), 6).as("score"),
        (col("pos") + 1L).cast("long").as("rank"),
        col("pos_score"))
  }

  // ---- sign-random-projection LSH ----

  val LshBits = 8

  /** Deterministic ±1 hyperplane weight for (plane j, dimension d):
    * integer hash, identical in any engine. */
  private def weight(j: Int, d: Column): Column =
    when(pmod((lit(j * 1000003L) + d) * 2654435761L, lit(97L)) < 48L, 1L)
      .otherwise(-1L)

  /** LSH bucket id of a quantized vector: [[LshBits]] sign bits of
    * deterministic random projections (exact integer sums). */
  def lshBucket(qv: Column): Column =
    (0 until LshBits).foldLeft(lit(0L): Column) { (acc, j) =>
      val proj = aggregate(
        zip_with(qv, sequence(lit(0L), size(qv).cast("long") - 1L),
          (x, d) => x * weight(j, d)),
        lit(0L), (a, v) => a + v)
      acc + when(proj >= 0, lit(1L << j)).otherwise(0L)
    }

  /** Embedding near-dup pairs via LSH: bucket self-join (identical
    * vectors always collide — every projection is equal), then exact
    * cosine ≥ minCosine verify on candidates only. */
  def embeddingNearDup(embeddings: DataFrame, minCosine: Double = 0.99): DataFrame = {
    val sketched = embeddings.select(
      col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("bucket", lshBucket(col("qv")))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    // identical plan on both sides → one exchange, reused; norms staged
    // so each candidate pair only pays the dot product
    sketched.as("a")
      .join(sketched.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dotQ(col("a.qv"), col("b.qv")).cast("double") /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("score"))
  }

  /** Multi-probe SRP near-dup: [[embeddingNearDup]] only pairs vectors
    * whose ALL [[LshBits]] sign bits agree — for true near-dups at
    * cos ≥ 0.99 each plane flips with probability θ/π ≈ 0.029, so the
    * all-8-bits collision rate is ≈ 0.79 and a fifth of real pairs
    * are invisible to the single-bucket join. Probing the 1-bit
    * Hamming neighborhood (classic multi-probe LSH) recovers the
    * pairs that disagree on exactly one plane, lifting the candidate
    * recall to ≈ 0.98 at 9× the probe rows — the same
    * recall-vs-probe-cost dial as IVF's nprobe.
    *
    * Shuffle discipline: probes explode only the slim (vec_id,
    * probe_bucket) pair — 9 rows × 16 bytes per vector, never the
    * 64-dim payload — and the bucket join emits slim id pairs;
    * quantized vectors move only in the verification joins, once per
    * side, mirroring [[graft.llm.LshIndex.queryGen]]'s candidates-then-
    * verify shape. Each true pair is matched EXACTLY once (the
    * lower-id side probes: identity probe iff buckets equal, else the
    * unique flipped-bit probe), so no candidate-dedup pass is needed. */
  def embeddingNearDupMp(embeddings: DataFrame, minCosine: Double = 0.99): DataFrame = {
    val sketched = embeddings.select(
      col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("bucket", lshBucket(col("qv")))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val probes = sketched.select(col("vec_id"), explode(array(
      col("bucket") +: (0 until LshBits).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("pb"))
    val cands = probes.as("a")
      .join(sketched.select(col("vec_id"), col("bucket")).as("b"),
        col("a.pb") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    cands
      .join(sketched.select(col("vec_id").as("vec_a"),
        col("qv").as("qva"), col("nrm").as("nrma")), "vec_a")
      .join(sketched.select(col("vec_id").as("vec_b"),
        col("qv").as("qvb"), col("nrm").as("nrmb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotQ(col("qva"), col("qvb")).cast("double") /
          (col("nrma") * col("nrmb"))).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("score"))
  }

  /** IVF-style ANN: the bucketed scale path with *learned-ish* coarse
    * cells instead of hash planes. "Centroids" are the first nCentroids
    * corpus vectors (deterministic stand-in for a k-means pass — the
    * plumbing, assignment, and probe are the real thing):
    *   1. assign: every vector joins the broadcast centroid set and
    *      keeps its max-cosine cell (argmax via window, cent_id tiebreak);
    *   2. probe: a query searches the buckets of its `nprobe` nearest
    *      cells (classic IVF multi-probe — recall rises with nprobe while
    *      the scanned fraction stays ≈ nprobe/nCentroids).
    * One broadcast join + one bucket-bounded join — never all-pairs. A
    * corpus vector lives in exactly one cell and a query's probe cells
    * are distinct, so no candidate dedup step is needed. */
  /** One Lloyd (k-means) refinement iteration over the seed centroids:
    * assign every vector to its max-cosine seed cell, then replace each
    * non-empty cell's centroid with the floor of its members' per-
    * dimension mean. Exact integer sums + `floor(sum/count)` on a
    * correctly-rounded double division keep the result bit-identical in
    * any engine (sums fit double's 2^53 integer range by a huge margin).
    * Cells that attract no members vanish — deterministic on both sides.
    * Shuffle shape: the per-dimension mean is a posexplode + hash agg on
    * (cent_id, dim) — at scale that is nCentroids×dims grouped rows,
    * independent of corpus size thanks to partial aggregation. */
  /** Argmax-cosine cell assignment as an AGGREGATE, not a window: the
    * 16 candidate rows per vector are born in one partition (broadcast
    * centroids), so `max_by` partial-combines them map-side and the
    * shuffle carries ONE row per vector — a `row_number` window over
    * the same candidates would shuffle corpus×nCentroids rows, each
    * dragging the 64-dim vector along. Tie-break identical to the
    * window form: highest cosine, then lowest cent_id (the negated id
    * in the ordering struct). */
  private[llm] def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents))
      .select(col("vec_id"), col("qv"), col("nrm"), col("cent_id"),
        (dotQ(col("qv"), col("cv")).cast("double") / (col("nrm") * col("cnrm")))
          .as("cos_c"))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("qv"), col("nrm"), col("cent_id")),
        struct(col("cos_c"), (-col("cent_id")).as("neg_cent"))).as("w"))
      .select(col("vec_id"), col("w.qv").as("qv"), col("w.nrm").as("nrm"),
        col("w.cent_id").as("cent_id"))

  private[llm] def refinedCentroids(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = assignCells(vecs, cents)
    assigned
      .select(col("cent_id"), posexplode(col("qv")))
      .groupBy("cent_id", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .groupBy("cent_id")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n").cast("double"))
            .cast("long").as("v")))),
        x => x("v")).as("cv"))
      .withColumn("cnrm", sqrt(norm2Q(col("cv")).cast("double")))
      .select("cent_id", "cv", "cnrm")
  }

  def ivfTopK(embeddings: DataFrame, nCentroids: Int = 16,
              nQueries: Int = 5, k: Int = 10, nprobe: Int = 1,
              refineIters: Int = 0): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val seeds = vecs.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("nrm").as("cnrm"))
    // Lloyd iterations compose lazily (each round's centroids feed the
    // next round's assignment). nCentroids×dims rows per round — tiny;
    // at a real 100 TB build you would localCheckpoint each round's
    // centroid table to cut the replayed lineage, trading plan depth
    // for a k-centroid materialization.
    val cents = (1 to refineIters).foldLeft(seeds)((c, _) => refinedCentroids(vecs, c))
    // corpus assignment: aggregate argmax (one shuffled row per vector —
    // see [[assignCells]]); the nprobe cell RANKING below runs only on
    // the tiny query set, where a window is fine
    val assigned = assignCells(vecs, cents)
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cent_id"))
    val queries = vecs.filter(col("vec_id") < nQueries)
      .join(broadcast(cents))
      .select(col("vec_id"), col("qv"), col("nrm"), col("cent_id"),
        (dotQ(col("qv"), col("cv")).cast("double") / (col("nrm") * col("cnrm")))
          .as("cos_c"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nrm").as("qnrm"), col("cent_id").as("qcent"))
    // probe candidates per query = the probed cells' population
    // (~corpus/nCentroids at scale) — ranked with the bounded TopKAgg,
    // not a per-query window, for the same reason as [[cosineTopK]]
    val probed = assigned.join(broadcast(queries),
        col("cent_id") === col("qcent") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dotQ(col("qqv"), col("qv")).cast("double") / (col("qnrm") * col("nrm")))
          .as("cos"))
    topKByQuery(probed, k)
  }

  /** Recall@k permille of an approximate index's (query_id, vec_id)
    * result set against the brute-force ground truth — shared by the
    * IVF and PQ evaluations so the recall contract lives in one place. */
  private def recallPm(brute: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("query_id"), col("vec_id").as("hit_vec"))
    brute
      .join(a, brute("query_id") === a("query_id") &&
        brute("vec_id") === a("hit_vec"), "left")
      .groupBy(brute("query_id"))
      .agg(count(col("hit_vec")).as("hits"))
      .select(col("query_id"),
        expr(s"(1000 * hits) div $k").as("recall_pm"))
  }

  /** ANN evaluation: recall@k of the IVF index against the brute-force
    * ground truth, in exact permille per query — the measurement a
    * training pipeline runs before trusting an index at scale. Both
    * sides are deterministic, so even this evaluation is
    * oracle-checkable. */
  def ivfRecall(embeddings: DataFrame, nCentroids: Int = 16,
                nQueries: Int = 5, k: Int = 10, nprobe: Int = 1,
                refineIters: Int = 0): DataFrame =
    recallPm(cosineTopK(embeddings, nQueries, k).select("query_id", "vec_id"),
      ivfTopK(embeddings, nCentroids, nQueries, k, nprobe, refineIters), k)

  /** Dedup-recall evaluation for the SRP near-dup family: pair recall
    * of single-bucket [[embeddingNearDup]] and 1-bit multi-probe
    * [[embeddingNearDupMp]] against the brute-force all-pairs ground
    * truth, in exact permille — the measurement that justifies the
    * probe dial before trusting it on a corpus (the [[ivfRecall]]
    * analog for dedup). Both LSH variants verify exact cosine, so
    * found ⊆ true by construction and recall is a pure count ratio.
    * The all-pairs side is quadratic — callers bound the input (the
    * registered query evaluates on a deterministic corpus slice), the
    * same discipline as the ANN recall evals' brute-force side. */
  def embeddingDedupRecall(embeddings: DataFrame, minCosine: Double = 0.99): DataFrame = {
    val sketched = embeddings.select(
      col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val truePairs = sketched.as("a")
      .join(sketched.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        (dotQ(col("a.qv"), col("b.qv")).cast("double") /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= minCosine)
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("pairs")).select(
        lit(name).as("variant"), col("pairs"), lit(1).as("k"))
    val counts = counted("brute", truePairs)
      .unionByName(counted("srp", embeddingNearDup(embeddings, minCosine)))
      .unionByName(counted("srp_mp", embeddingNearDupMp(embeddings, minCosine)))
    val total = counted("brute", truePairs)
      .select(col("pairs").as("true_pairs"), col("k"))
    counts.join(broadcast(total), "k")
      .select(col("variant"), col("pairs"),
        expr("(pairs * 1000) div true_pairs").as("recall_pm"))
  }

  // ---- product quantization (PQ) ----

  /** PQ parameters: vectors split into [[PqM]] contiguous subspaces,
    * each encoded as the id of its nearest codebook entry among
    * [[PqK]] codes (nearest by exact integer squared L2). Codebooks are
    * the first [[PqK]] corpus vectors' sub-slices — the same
    * deterministic stand-in for a k-means pass as the IVF seeds. */
  val PqM = 8
  val PqK = 16

  /** Exact integer squared L2 distance of two quantized sub-vectors. */
  private[llm] def d2Q(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** (vec_id, m, sv): the M sub-slices of each vector — a stateless
    * in-partition explode of slim 8-long arrays, no shuffle. */
  private[llm] def subvectors(vecs: DataFrame, subDim: Int): DataFrame =
    vecs.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * subDim + 1, lit(subDim)).as("sv"))

  /** PQ-compressed ANN: the memory-scale path. Each corpus vector is
    * encoded ONCE as [[PqM]] one-byte codes (8 bytes vs 512 for the raw
    * 64-float vector — the compression that lets a 100 TB corpus's
    * index live in RAM); a query scores candidates with an asymmetric
    * lookup table (its exact dot product against every codebook entry,
    * nQueries × M × K rows) and never touches raw corpus vectors again.
    * Estimated cosine = LUT-sum / (‖q‖ · ‖reconstruction‖), where the
    * reconstruction norm² is the exact sum of the chosen entries'
    * norms² — every term integer-exact, so the oracle reproduces the
    * scores (and the quantization error itself) bit-for-bit.
    *
    * Shuffle shape: codebooks and LUT are broadcast (both bounded by
    * parameters, not data); encoding is a broadcast join + argmin
    * aggregate shipping ONE row per (vector, subspace); scoring
    * partial-aggregates the M per-subspace terms map-side and ships one
    * row per (query, vector) into the bounded [[TopKAgg]]. Raw vectors
    * cross no shuffle anywhere past the sub-slice projection. */
  /** One Lloyd refinement round over a PQ codebook, per subspace: every
    * sub-vector goes to its min-distance code (exact integer squared L2,
    * code tiebreak), then each non-empty (m, code) entry is re-centered
    * at the floor of its members' per-dimension mean — the same exact
    * recurrence as the IVF [[refinedCentroids]], keyed by (m, code)
    * instead of cent_id. Codes that attract no members vanish on both
    * engines. Shuffle shape: the re-center is a hash agg over
    * (m, code, dim) — PqM×PqK×subDim grouped rows, corpus-independent
    * thanks to partial aggregation. */
  private def refinedCodebook(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"), col("code"),
        d2Q(col("sv"), col("cbv")).as("dist2"))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("sv"), col("code")),
        struct(col("dist2"), col("code"))).as("w"))
      .select(col("m"), col("w.code").as("code"), col("w.sv").as("sv"))
      .select(col("m"), col("code"), posexplode(col("sv")))
      .groupBy("m", "code", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .groupBy("m", "code")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n").cast("double"))
            .cast("long").as("v")))),
        x => x("v")).as("cbv"))
      .withColumn("cbn2", norm2Q(col("cbv")))
      .select("m", "code", "cbv", "cbn2")

  /** The PQ building blocks shared by [[pqTopK]], [[ivfPqTopK]], and
    * [[AnnIndex]]: the codebook, per-vector byte codes with their
    * entries' norms², the query-side asymmetric LUT, and query norms.
    * `refineIters` Lloyd rounds upgrade the deterministic seed
    * codebook ([[refinedCodebook]]). */
  private[llm] def pqParts(embeddings: DataFrame, nQueries: Int, refineIters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dim = 64 // driver embeddings are float[64] (TESTDATA.md)
    val subDim = dim / PqM
    val vecs = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val sub = subvectors(vecs, subDim)
    val seedCb = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sv").as("cbv"))
      .withColumn("cbn2", norm2Q(col("cbv")))
    val cb = (1 to refineIters).foldLeft(seedCb)((c, _) => refinedCodebook(sub, c))
    val encoded = encodeSub(sub, cb)
    // asymmetric distance LUT: exact query-side dot against every entry
    val lut = sub.filter(col("vec_id") < nQueries)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("code"),
        dotQ(col("sv"), col("cbv")).as("dp"))
    val qn = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        sqrt(norm2Q(col("qv")).cast("double")).as("qnrm"))
    (cb, encoded, lut, qn)
  }

  /** Encode sub-vectors against a codebook: nearest entry per
    * (vector, subspace) by exact squared L2 (code tiebreak); argmin as
    * an aggregate (same shape as IVF's [[assignCells]] — the K
    * candidate rows are born in-partition and combine map-side). The
    * ONE derivation of PQ codes, shared by [[pqParts]] and
    * [[AnnIndex]]'s incremental ingest so stored and in-memory codes
    * cannot diverge. */
  private[llm] def encodeSub(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"), col("cbn2"),
        d2Q(col("sv"), col("cbv")).as("dist2"))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("code"), col("cbn2")),
        struct(col("dist2"), col("code"))).as("w"))
      .select(col("vec_id"), col("m"),
        col("w.code").as("code"), col("w.cbn2").as("cbn2"))

  def pqTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
             refineIters: Int = 0): DataFrame = {
    val (_, encoded, lut, qn) = pqParts(embeddings, nQueries, refineIters)
    val scored = encoded
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dp").as("est_dot"), sum("cbn2").as("recon_n2"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("est_dot").cast("double") /
          (col("qnrm") * sqrt(col("recon_n2").cast("double")))).as("cos"))
    topKByQuery(scored, k)
  }

  /** Recall@k of the PQ index vs brute force — the compression-loss
    * measurement, exact permille per query (cf. [[ivfRecall]]). */
  def pqRecall(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
               refineIters: Int = 0): DataFrame =
    recallPm(cosineTopK(embeddings, nQueries, k).select("query_id", "vec_id"),
      pqTopK(embeddings, nQueries, k, refineIters), k)

  // ---- composed IVF-PQ ----

  /** The production 100 TB index shape: IVF coarse cells bound the
    * candidate set (a query scans ~nprobe/nCentroids of the corpus) and
    * PQ codes bound the bytes per candidate (8 codes vs the raw
    * vector) — composed from the two halves that previously existed
    * separately. A corpus vector is (cell id, PqM codes); scoring joins
    * the probed cells' candidates to the query LUT and never touches a
    * raw corpus vector. Codes quantize the raw sub-vectors against the
    * GLOBAL codebook (IVFFlat-style), not per-cell residuals, keeping
    * encode identical to [[pqTopK]] — so probing every cell degrades
    * exactly to the unrestricted PQ scan (SimilaritySpec pins this).
    *
    * Shuffle shape: cells and codes are corpus-sized but slim
    * (vec_id-keyed equi-join between them); probes, LUT, and query
    * norms broadcast; per-candidate scoring partial-aggregates the M
    * LUT terms map-side into the bounded [[TopKAgg]]. */
  def ivfPqTopK(embeddings: DataFrame, nCentroids: Int = 16,
                nQueries: Int = 5, k: Int = 10, nprobe: Int = 1,
                pqRefine: Int = 0): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val cents = vecs.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("nrm").as("cnrm"))
    val cells = assignCells(vecs, cents).select("vec_id", "cent_id")
    // query probe cells: the nprobe max-cosine cells, ranked on the tiny
    // query set only (cf. [[ivfTopK]])
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cent_id"))
    val probes = vecs.filter(col("vec_id") < nQueries)
      .join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dotQ(col("qv"), col("cv")).cast("double") / (col("nrm") * col("cnrm")))
          .as("cos_c"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("qcent"))
    val (_, encoded, lut, qn) = pqParts(embeddings, nQueries, pqRefine)
    val scored = encoded
      .join(cells, Seq("vec_id"))
      .join(broadcast(probes),
        col("cent_id") === col("qcent") && col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dp").as("est_dot"), sum("cbn2").as("recon_n2"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("est_dot").cast("double") /
          (col("qnrm") * sqrt(col("recon_n2").cast("double")))).as("cos"))
    topKByQuery(scored, k)
  }

  /** Recall@k of the composed IVF-PQ index vs brute force — measures
    * the cell-miss and compression losses together (cf. [[ivfRecall]],
    * [[pqRecall]]). */
  def ivfPqRecall(embeddings: DataFrame, nCentroids: Int = 16,
                  nQueries: Int = 5, k: Int = 10, nprobe: Int = 1,
                  pqRefine: Int = 0): DataFrame =
    recallPm(cosineTopK(embeddings, nQueries, k).select("query_id", "vec_id"),
      ivfPqTopK(embeddings, nCentroids, nQueries, k, nprobe, pqRefine), k)

  /** RESIDUAL-encoded IVF-PQ — the classic production formulation
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"): PQ codes quantize each vector's residual `qv − cv`
    * against its assigned cell's centroid, not the raw vector, so the
    * codebook spends its 16 entries per subspace on the (much
    * tighter) within-cell distribution. The reconstruction is
    * `cv + r̂`, and every scoring term stays integer-exact:
    *
    *   est_dot  = q·cv + Σₘ dot(qₘ, r̂ₘ)                (LUT per (m, code))
    *   ‖cv+r̂‖² = ‖cv‖² + 2·Σₘ dot(cvₘ, r̂ₘ) + Σₘ ‖r̂ₘ‖²
    *
    * — the cv·r̂ cross terms come from a (cell × subspace × code)
    * table of nCentroids·PqM·PqK rows (16·8·16 = 2048): parameter-
    * bounded, broadcast, corpus-independent. A vector whose residual
    * IS a codebook entry (the seeds: vec_id in
    * [nCentroids, nCentroids+PqK), at distance 0)
    * reconstructs exactly, so its estimated cosine equals the true
    * quantized cosine — SimilaritySpec pins that invariant.
    *
    * Shuffle shape matches [[ivfPqTopK]]: corpus-sized tables are
    * slim and vec_id/cell-keyed; codebooks, LUTs, cross-term table,
    * probes, and query norms all broadcast. */
  def ivfPqResTopK(embeddings: DataFrame, nCentroids: Int = 16,
                   nQueries: Int = 5, k: Int = 10,
                   nprobe: Int = 1): DataFrame = {
    val subDim = 64 / PqM
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val cents = vecs.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("nrm").as("cnrm"))
    // (vec_id, cent_id, residual) — the only corpus-sized frames from
    // here on carry the 8-long residual slices or the final codes
    val assigned = assignCells(vecs, cents)
    val rsub = resSubvectors(assigned, cents, subDim)
    val rcb = resCodebook(rsub, nCentroids)
    val encoded = encodeRes(rsub, rcb)
    val cellCross = resCellCross(cents, rcb, subDim)
    val qvecs = vecs.filter(col("vec_id") < nQueries)
    val probes = resProbes(qvecs, cents, nprobe)
    val lut = resLut(qvecs, rcb, subDim)
    topKByQuery(scoreRes(encoded, probes, lut, cellCross), k)
  }

  /** Residual sub-slices of an assignment against its centroids:
    * (vec_id, cent_id, m, rsv) — the PQ input of the residual
    * formulation, shared by the in-memory operator and the persisted
    * [[AnnIndex]] so stored and in-memory codes cannot diverge. */
  private[llm] def resSubvectors(assigned: DataFrame, cents: DataFrame,
                                 subDim: Int): DataFrame =
    assigned.join(broadcast(cents.select("cent_id", "cv")), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("rv"))
      .select(col("vec_id"), col("cent_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("rv"))
      .select(col("vec_id"), col("cent_id"), col("m"),
        slice(col("rv"), col("m") * subDim + 1, lit(subDim)).as("rsv"))

  /** Residual codebook: the residual slices of the PqK vectors AFTER
    * the centroid seeds. NOT vec_id < PqK: those vectors ARE the
    * centroids (vec i assigns to cell i at cosine 1), so their
    * residuals are all-zero and the codebook would be 16 copies of
    * the zero vector — codes carrying no information, scores
    * collapsing to the cell-centroid cosine. */
  private[llm] def resCodebook(rsub: DataFrame, nCentroids: Int): DataFrame =
    rsub
      .filter(col("vec_id") >= nCentroids && col("vec_id") < nCentroids + PqK)
      .select(col("m"), (col("vec_id") - nCentroids).cast("int").as("code"),
        col("rsv").as("rbv"))
      .withColumn("rbn2", norm2Q(col("rbv")))

  /** Encode residual slices against the codebook: argmin exact squared
    * L2, code tiebreak, as a map-side-combining aggregate —
    * (vec_id, cent_id, m, code, rbn2). */
  private[llm] def encodeRes(rsub: DataFrame, rcb: DataFrame): DataFrame =
    rsub.join(broadcast(rcb), Seq("m"))
      .select(col("vec_id"), col("cent_id"), col("m"), col("code"), col("rbn2"),
        d2Q(col("rsv"), col("rbv")).as("dist2"))
      .groupBy("vec_id", "cent_id", "m")
      .agg(min_by(struct(col("code"), col("rbn2")),
        struct(col("dist2"), col("code"))).as("w"))
      .select(col("vec_id"), col("cent_id"), col("m"),
        col("w.code").as("code"), col("w.rbn2").as("rbn2"))

  /** Cell × codebook cross terms dot(cv sub-slice, codebook entry):
    * nCentroids·PqM·PqK rows, parameter-bounded, broadcastable. */
  private[llm] def resCellCross(cents: DataFrame, rcb: DataFrame,
                                subDim: Int): DataFrame =
    cents
      .select(col("cent_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("cv"))
      .select(col("cent_id"), col("m"),
        slice(col("cv"), col("m") * subDim + 1, lit(subDim)).as("csv"))
      .join(broadcast(rcb), Seq("m"))
      .select(col("cent_id"), col("m"), col("code"),
        dotQ(col("csv"), col("rbv")).as("cvdot"))

  /** The query rows' nprobe max-cosine cells, with exact q·cv and ‖cv‖²
    * staged per probe: (query_id, qcent, qcv, cn2, qnrm). `qvecs` is
    * the already-filtered query set (vec_id, qv, nrm) — tiny, so the
    * ranking window is fine. */
  private[llm] def resProbes(qvecs: DataFrame, cents: DataFrame,
                             nprobe: Int): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cent_id"))
    qvecs
      .join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dotQ(col("qv"), col("cv")).cast("double") / (col("nrm") * col("cnrm")))
          .as("cos_c"),
        dotQ(col("qv"), col("cv")).as("qcv"),
        norm2Q(col("cv")).as("cn2"),
        col("nrm"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("qcent"),
        col("qcv"), col("cn2"), col("nrm").as("qnrm"))
  }

  /** Query-side LUT against the residual codebook:
    * (query_id, m, code, dp) with dp the exact integer dot. */
  private[llm] def resLut(qvecs: DataFrame, rcb: DataFrame,
                          subDim: Int): DataFrame =
    qvecs
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * subDim + 1, lit(subDim)).as("qsv"))
      .join(broadcast(rcb), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("code"),
        dotQ(col("qsv"), col("rbv")).as("dp"))

  /** Score probed candidates from codes alone:
    * est_dot = q·cv + Σ LUT, recon² = ‖cv‖² + 2·Σ cv·r̂ + Σ ‖r̂‖² —
    * every term integer-exact (see [[ivfPqResTopK]] doc). */
  private[llm] def scoreRes(encoded: DataFrame, probes: DataFrame,
                            lut: DataFrame, cellCross: DataFrame): DataFrame =
    encoded
      .join(broadcast(probes),
        col("cent_id") === col("qcent") && col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .join(broadcast(cellCross), Seq("cent_id", "m", "code"))
      .groupBy("query_id", "vec_id", "qcv", "cn2", "qnrm")
      .agg(sum("dp").as("sdp"), sum("cvdot").as("scv"), sum("rbn2").as("srb"))
      .select(col("query_id"), col("vec_id"),
        ((col("qcv") + col("sdp")).cast("double") /
          (col("qnrm") * sqrt((col("cn2") + lit(2L) * col("scv") + col("srb"))
            .cast("double")))).as("cos"))

  /** Per-cell population stats of the IVF assignment — the
    * index-maintenance signal a deployment watches to decide
    * rebuild-vs-append. [[AnnIndex.append]] keeps centroids fixed, so
    * drift shows up here as cell-size skew: `skew_pm` is the cell's
    * size relative to the perfectly-balanced share in permille
    * (1000 = exactly balanced); a max skew_pm of several thousand
    * means probe fan-out is dominated by one hot cell and a rebuild
    * (re-seed + re-assign) is due. Every column is integer-exact, so
    * even the maintenance signal is oracle-checkable.
    *
    * Shuffle shape: one assignment pass (broadcast centroids, one
    * shuffled row per vector — [[assignCells]]) into a
    * nCentroids-row aggregate; the total joins back as a broadcast
    * single row. */
  def cellStats(embeddings: DataFrame, nCentroids: Int = 16): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val cents = vecs.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("nrm").as("cnrm"))
    cellStatsFromCells(assignCells(vecs, cents), nCentroids)
  }

  /** [[cellStats]] over a PERSISTED index's cells table (see
    * [[AnnIndex]]): the same aggregate, but from the stored layout —
    * the form a production deployment actually runs after appends. */
  private[llm] def cellStatsFromCells(cells: DataFrame, nCentroids: Int): DataFrame = {
    // the corpus total attaches via a window over the ≤ nCentroids
    // pre-aggregated count rows — one exchange of tiny rows — instead
    // of a broadcast self-join of the aggregate, whose
    // BroadcastExchange materialized as a second job per read
    // (guide §1.2: remove jobs first). Same integer math, same rows.
    cells.groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum("n_vecs").over(Window.partitionBy(lit(1))))
      .select(col("cent_id"), col("n_vecs"),
        expr("(1000 * n_vecs) div total").as("share_pm"),
        expr(s"(1000 * n_vecs * $nCentroids) div total").as("skew_pm"))
  }

  /** Recall@k of the residual-encoded IVF-PQ index vs brute force. */
  def ivfPqResRecall(embeddings: DataFrame, nCentroids: Int = 16,
                     nQueries: Int = 5, k: Int = 10,
                     nprobe: Int = 1): DataFrame =
    recallPm(cosineTopK(embeddings, nQueries, k).select("query_id", "vec_id"),
      ivfPqResTopK(embeddings, nCentroids, nQueries, k, nprobe), k)

  /** Embedding QC report: per label, the distribution of quantized
    * squared norms — count, min, discrete lower median, max, and the
    * count of DEGENERATE vectors (norm² below `lowFrac` permille of
    * the label's median) — the "did the embedder silently zero or
    * collapse a slice" gate an embedding pipeline runs before
    * trusting a batch into the ANN index. All integers: norms are
    * [[norm2Q]] over [[quantize]]d vectors, the median is the
    * ⌈n/2⌉-th smallest via per-label row_number (`quantile_disc`
    * semantics — no interpolation, no float).
    *
    * Scale: one ranked pass per label (label cardinality bounds
    * parallelism, same trade as token quantiles) and a |labels|-row
    * broadcast of the medians back over the norm rows. */
  def normStats(embeddings: DataFrame, lowFrac: Long = 500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norms = embeddings
      .select(col("label").cast("long").as("label"),
        norm2Q(quantize(col("embedding"))).as("n2"))
    val byLabel = Window.partitionBy("label")
    val med = norms
      .withColumn("rn", row_number().over(byLabel.orderBy("n2")).cast("long"))
      .withColumn("n", count(lit(1)).over(byLabel))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("label"), col("n2").as("median_n2"))
    norms.join(broadcast(med), "label")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("n2").as("min_n2"),
        max("median_n2").as("median_n2"),
        max("n2").as("max_n2"),
        sum(when(col("n2") * 1000L < col("median_n2") * lowFrac, 1L)
          .otherwise(0L)).as("n_degenerate"))
  }

  /** Corpus with injected identical vectors (vec_id ≡ 0 mod 10 copied
    * under vec_id+100000) — near-dup ground truth for the LSH pipeline. */
  def withDupVectors(embeddings: DataFrame): DataFrame =
    embeddings.select("vec_id", "embedding").unionAll(
      embeddings.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus into k-means cells, then do
    * the quadratic near-dup pair search only WITHIN each cell. The cell
    * bound is the whole scale story — the all-pairs cost drops from
    * O(n²) to O(k·(n/k)²) = O(n²/k), and at a 100 TB build k grows with
    * the corpus so cell populations (and thus each join partition's
    * pair count) stay constant. This is the clustering complement to
    * the SRP family above: [[embeddingNearDup]] recalls by hash-plane
    * luck, semantic dedup recalls by geometry — two vectors at
    * cos ≥ τ virtually always share an argmax cell, without any
    * probe-dial tuning.
    *
    * Keep policy (greedy, deterministic): a vector is a duplicate iff
    * some LOWER-id vector in the same cell is within `minCosine`;
    * `dup_of` attributes it to the smallest such id. Chains are
    * intentional (b dup-of a, c dup-of b) — same greedy sweep as the
    * paper's per-cluster pruning, made order-deterministic by vec_id.
    *
    * Shuffle shape: one shuffle assigns cells (aggregate argmax over
    * broadcast centroids — see [[assignCells]]), one shuffle co-locates
    * each cell for the self-join; the quantized vectors cross the wire
    * once per side. Output is one slim row per vector. */
  def semanticDedup(embeddings: DataFrame, nCentroids: Int = 16,
                    minCosine: Double = 0.99,
                    refineIters: Int = 1): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val seeds = vecs.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"),
        col("nrm").as("cnrm"))
    val cents =
      (1 to refineIters).foldLeft(seeds)((c, _) => refinedCentroids(vecs, c))
    val assigned = assignCells(vecs, cents)
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(dotQ(col("a.qv"), col("b.qv")).cast("double") /
        (col("a.nrm") * col("b.nrm")) >= minCosine)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cent_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        when(col("dup_of").isNotNull, 1L).otherwise(0L).as("is_dup"),
        col("dup_of"))
  }

  /** Per-source embedding centroid quality — the drift/coherence report
    * a pipeline reads before trusting a source's embeddings: each
    * source's centroid is the floor of its members' per-dimension mean
    * (the [[refinedCentroids]] recurrence, keyed by source instead of
    * cell), and dispersion is the mean and worst cosine of members to
    * their own centroid. A source whose mean cosine collapses is
    * incoherent (mixed content); one whose min collapses has outliers.
    *
    * Determinism: cosines are rounded to integer MICRO-units per row
    * before aggregation, so partial-agg order can never flip the
    * result. Scale: the centroid agg shuffles |sources|×dims grouped
    * rows (partial-aggregated), centroids broadcast back param-sized;
    * the only corpus-sized shuffle is the doc→source attribution join
    * on the id key. */
  def sourceCentroids(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(norm2Q(col("qv")).cast("double")))
    val tagged = vecs.join(
      docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    val cents = tagged
      .select(col("source"), posexplode(col("qv")))
      .groupBy("source", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .groupBy("source")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"),
          floor(col("s").cast("double") / col("n").cast("double"))
            .cast("long").as("v")))),
        x => x("v")).as("cv"))
      .withColumn("cnrm", sqrt(norm2Q(col("cv")).cast("double")))
    tagged.join(broadcast(cents), "source")
      .select(col("source"),
        graft.functions.FixedPoint.units(dotQ(col("qv"), col("cv")).cast("double") /
          (col("nrm") * col("cnrm")), 6).as("cos_micro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(cos_micro) div count(1)").as("mean_cos_micro"),
        min("cos_micro").as("min_cos_micro"))
  }

  /** Per-cell view of [[semanticDedup]]: population, duplicates found,
    * and the kept fraction in exact permille — the cell-level signal a
    * pipeline uses to spot over-merged cells (keep_pm collapsing means
    * the cell radius is too wide for the threshold). */
  def semanticDedupStats(embeddings: DataFrame, nCentroids: Int = 16,
                         minCosine: Double = 0.99,
                         refineIters: Int = 1): DataFrame =
    semanticDedup(embeddings, nCentroids, minCosine, refineIters)
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"), sum("is_dup").as("n_dups"))
      .select(col("cent_id"), col("n_vecs"), col("n_dups"),
        expr("(1000 * (n_vecs - n_dups)) div n_vecs").as("keep_pm"))
}
