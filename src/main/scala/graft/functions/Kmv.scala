package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KMV ("k minimum values") distinct-value sketch (Beyer et al., "On
  * Synopses for Distinct Value Estimation Under Multiset Operations",
  * SIGMOD 2007) — the theta-sketch family's simplest member, here
  * instead of HLL exactly where SET ALGEBRA is needed: two KMV
  * sketches union/intersect by plain operations on their retained
  * hash arrays, so "distinct users who did BOTH X and Y" needs no
  * user-scale pair join — per-group kilobyte sketches replace the
  * event-scale shuffle. (HLL registers can union but cannot
  * intersect; inclusion-exclusion on HLL estimates explodes the
  * relative error for small intersections. The [[graft.ops.Windows
  * .hllWeeklyUsers]] rollup and this sketch are complements, same as
  * the reference's count vs distinct split.)
  *
  * Representation: the sketch IS a sorted `Array[Long]` column
  * holding the k smallest DISTINCT sign-flipped `xxhash64` values
  * (the flip makes signed order coincide with unsigned order, so
  * "smallest" is uniform over the full hash space). Every estimator
  * below is a native array/arithmetic Column over that array —
  * no UDF in the read path; only the bounded-buffer aggregation is a
  * typed object agg (the [[graft.llm.HeavyHitters.MisraGriesAgg]]
  * stance: the one non-codegen island is the fixed-size buffer, and
  * everything downstream of it is columnar).
  *
  * Determinism: the retained set is a function of the input SET —
  * insertion order, partitioning, merge-tree shape, and row
  * multiplicity cannot change which k hashes are smallest. Merge
  * invariance is therefore EXACT array equality (spec-pinned), not
  * approximate agreement; below k distinct values the sketch is the
  * value set itself and every estimate is exact.
  */
object Kmv {

  /** Sign-flip: maps unsigned hash order onto signed long order. */
  @inline private[graft] def flip(h: Long): Long = h ^ Long.MinValue

  /** Insert a FLIPPED hash into a bounded distinct-min buffer:
    * (#filled, max-heap of flipped hashes). The heap array is
    * allocated once per buffer and mutated in place; the tuple shell
    * is re-created per insert (object-header cost only). Containment
    * is checked by linear scan, which only runs when the value would
    * actually enter (warm-up, or below the current root) — expected
    * o(k²) total per partition. Shared verbatim by the batch
    * Aggregator and [[graft.streaming.StreamingDistinct]]'s state
    * update, which is what makes stream/batch parity exact. */
  private[graft] def insert(b: (Int, Array[Long]), v: Long,
                            k: Int): (Int, Array[Long]) = {
    val (n, heap0) = b
    if (n == 0 && heap0.isEmpty) {
      val heap = new Array[Long](k)
      heap(0) = v
      return (1, heap)
    }
    val heap = heap0
    if (n < k) {
      var i = 0
      while (i < n) { if (heap(i) == v) return b; i += 1 }
      // sift up
      heap(n) = v
      var c = n
      while (c > 0 && heap((c - 1) / 2) < heap(c)) {
        val p = (c - 1) / 2
        val t = heap(p); heap(p) = heap(c); heap(c) = t
        c = p
      }
      (n + 1, heap)
    } else if (v < heap(0)) {
      var i = 0
      while (i < n) { if (heap(i) == v) return b; i += 1 }
      // replace root, sift down
      heap(0) = v
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1; val r = l + 1
        var m = c
        if (l < k && heap(l) > heap(m)) m = l
        if (r < k && heap(r) > heap(m)) m = r
        if (m == c) done = true
        else { val t = heap(m); heap(m) = heap(c); heap(c) = t; c = m }
      }
      b
    } else b
  }

  /** Scala-side estimate over a buffer — the same math as the
    * [[estimate]] Column (the k-th smallest of a full max-heap is its
    * root), so stream-emitted and batch-column estimates agree
    * bit-for-bit. */
  private[graft] def estimateBuffer(n: Int, heap: Array[Long],
                                    k: Int): Long =
    if (n < k) n.toLong
    else math.round((k - 1).toDouble /
      ((heap(0).toDouble + HalfSpan) / FullSpan))

  final class KmvAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, (Int, Array[Long]), Array[Long]] {
    require(k >= 2, "k >= 2")

    def zero: (Int, Array[Long]) = (0, Array.emptyLongArray)

    def reduce(b: (Int, Array[Long]), hRaw: Long): (Int, Array[Long]) =
      insert(b, flip(hRaw), k)

    def merge(l: (Int, Array[Long]),
              r: (Int, Array[Long])): (Int, Array[Long]) = {
      var acc = l
      var i = 0
      while (i < r._1) { acc = insert(acc, r._2(i), k); i += 1 }
      acc
    }

    def finish(b: (Int, Array[Long])): Array[Long] = {
      val out = java.util.Arrays.copyOf(b._2, b._1)
      java.util.Arrays.sort(out)
      out
    }

    def bufferEncoder: org.apache.spark.sql.Encoder[(Int, Array[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Array[Long])]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  private val HalfSpan = 9.223372036854775808e18 // 2^63 as double
  private val FullSpan = 1.8446744073709551616e19 // 2^64 as double

  /** Fraction of the hash space at or below flipped value `h` —
    * the U(k) of the KMV estimator. Doubles are fine here: estimates
    * never cross engines (only 0/1 bounds do). */
  private def frac(h: Column): Column =
    (h.cast("double") + HalfSpan) / FullSpan

  /** θ bound of a sketch in the flipped domain (exclusive): the k-th
    * smallest retained hash, or +∞ when the sketch is still exact. */
  private def theta(sk: Column, k: Int): Column =
    when(size(sk) < k, lit(Long.MaxValue)).otherwise(element_at(sk, k))

  /** Distinct-count estimate: exact below k, else (k-1)/U(k). */
  def estimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("long"))
      .otherwise(FixedPoint.units(lit((k - 1).toDouble) / frac(element_at(sk, k)), 0))

  /** |A ∩ B| estimate: common retained hashes below the combined θ,
    * scaled back up. Exact when both sides are exact. */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val p = least(theta(a, k), theta(b, k))
    val w = size(filter(array_intersect(a, b), x => x < p))
    FixedPoint.units(w.cast("double") / frac(p), 0)
  }

  /** KMV union as a plain Column: the k smallest distinct of the
    * concatenation — what makes the sketch ROLL UP along any
    * hierarchy after the one aggregation pass. */
  def unionSketch(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Union of a collected LIST of sketches (grouped rollup form). */
  def unionAll(sks: Column, k: Int): Column =
    slice(array_sort(array_distinct(flatten(sks))), 1, k)
}
