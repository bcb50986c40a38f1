package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, BoundReference, Cast, CurrentBatchTimestamp, EvalMode, Expression, If, Literal, Multiply, Nondeterministic, Rand}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** [[BatchConstant]]: the interpreted and generated paths give the
  * child's value, a constant is read from the stage's references so two
  * values compile to one source text, and anything that is not a
  * constant compiles inline as before. */
class BatchConstantSpec extends SparkSpec {

  private val rows = Seq(InternalRow(1L), InternalRow(2L), InternalRow(-3L))

  private def interpreted(e: Expression): Seq[Any] = {
    e.foreach { case n: Nondeterministic => n.initialize(0); case _ => }
    rows.map(e.eval)
  }

  private def generated(e: Expression): Seq[Any] = {
    val p = GenerateUnsafeProjection.generate(Seq(e), false)
    p.initialize(0)
    rows.map(r => p(r).copy().get(0, e.dataType))
  }

  /** The objects `e`'s generated code reads from the references array. */
  private def references(e: Expression): Seq[Any] = {
    val ctx = new CodegenContext
    e.genCode(ctx)
    ctx.references.toSeq
  }

  private val constants: Seq[(String, Expression, Any)] = Seq(
    ("int", Literal(7), 7),
    ("long", Literal(1L << 40), 1L << 40),
    ("double", Literal(2.5), 2.5),
    ("string", Literal("batch"), UTF8String.fromString("batch")),
    ("timestamp", Literal.create(1792475287731000L, TimestampType), 1792475287731000L),
    ("batch timestamp", CurrentBatchTimestamp(1792475287731L, TimestampType, Some("UTC")),
      1792475287731000L),
    ("nullable int", If(Literal(true), Literal(5), Literal.create(null, IntegerType)), 5),
    ("null int", Add(Literal.create(null, IntegerType), Literal(1)), null),
    ("null string", Literal.create(null, StringType), null),
    ("folded int", Add(Literal(40), Literal(2)), 42))

  test("eval and generated code agree on int, long, double, string, timestamp and null children") {
    for ((name, child, want) <- constants) {
      val e = BatchConstant(child)
      assert(interpreted(e) == Seq.fill(rows.size)(want), name)
      assert(generated(e) == Seq.fill(rows.size)(want), name)
      assert(references(e) == Seq(want), s"$name: not read from the references array")
    }
  }

  test("a child that reads a column or is nondeterministic compiles inline, with the same results") {
    val inline = Seq(
      Multiply(BoundReference(0, LongType, nullable = false), Literal(2L)),
      Rand(Literal(7L)))
    for (child <- inline) {
      assert(references(BatchConstant(child)) == references(child), child)
      assert(interpreted(BatchConstant(child)) == interpreted(child), child)
      assert(generated(BatchConstant(child)) == generated(child), child)
      assert(generated(BatchConstant(child)) == interpreted(BatchConstant(child)), child)
    }
    assert(interpreted(BatchConstant(inline.head)) == Seq(2L, 4L, -6L))
    // a constant whose evaluation fails compiles inline too: it fails per
    // row, as the child does, not while the code is generated
    val failing = Cast(Literal("x"), IntegerType, Some("UTC"), EvalMode.ANSI)
    assert(references(BatchConstant(failing)) == references(failing))
    assert(intercept[NumberFormatException](generated(BatchConstant(failing))).getMessage ==
      intercept[NumberFormatException](generated(failing)).getMessage)
    val df = spark.range(0, 50, 1, 2).select(
      rand(7).as("a"), BatchConstant(rand(7)).as("b"), BatchConstant(col("id") * 2).as("c"))
    df.collect().zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(0) == r.getDouble(1) && r.getLong(2) == 2L * i)
    }
  }

  /** Generated source of every whole-stage codegen subtree of `df`. */
  private def stageSources(df: DataFrame): Seq[String] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)

  private def source(c: Column): Seq[String] =
    stageSources(spark.range(0, 4, 1, 1).select((col("id") > 0).as("p"), c.as("v")))

  test("two values of one constant compile to byte-identical source") {
    // the plain literal is spliced into the source: the comparison sees an inlined value
    assert(source(col("id") + 7) != source(col("id") + 8))
    val pairs: Seq[(Column, Column)] = Seq(
      lit(7) -> lit(8),
      lit(1L << 40) -> lit(1L << 41),
      lit(2.5) -> lit(3.5),
      lit("batch-1") -> lit("batch-2"),
      lit(java.sql.Timestamp.valueOf("2026-10-20 06:00:00")) ->
        lit(java.sql.Timestamp.valueOf("2026-10-20 06:00:15")),
      unix_timestamp(lit(java.sql.Timestamp.valueOf("2026-10-20 06:00:00"))).cast("int") ->
        unix_timestamp(lit(java.sql.Timestamp.valueOf("2026-10-20 06:00:15"))).cast("int"))
    for ((a, b) <- pairs) {
      val sa = source(BatchConstant(a))
      assert(sa.nonEmpty)
      assert(sa == source(BatchConstant(b)), a)
      val got = spark.range(0, 2, 1, 1).select(BatchConstant(a).as("v"))
      assert(got.collect().toSeq == spark.range(0, 2, 1, 1).select(a.as("v")).collect().toSeq, a)
    }
  }

  test("ConstantFolding folds the child but leaves the node in place") {
    val plan = Project(Seq(Alias(BatchConstant(Add(Literal(40), Literal(2))), "c")()),
      OneRowRelation())
    val folded = ConstantFolding(plan).expressions.flatMap(_.collect { case b: BatchConstant => b })
    assert(folded == Seq(BatchConstant(Literal(42))))
    val optimized = spark.range(1).select(BatchConstant(lit(40) + lit(2)).as("c"))
      .queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[BatchConstant])))
  }
}
