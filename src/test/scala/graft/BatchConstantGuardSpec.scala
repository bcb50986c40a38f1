package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-batch values out of generated code: a streaming
  * `current_timestamp()` becomes the batch time and `lit(batchId)` the
  * batch id, both literals that Spark splices into the generated source,
  * so every micro-batch compiles its stages anew.
  * [[graft.functions.BatchConstant]] reads such a value from the stage's
  * references instead, and this guard fails on any of them outside it. */
class BatchConstantGuardSpec extends AnyFunSuite {

  /** Offsets of `current_timestamp()`, `current_date()`,
    * `localtimestamp()` and `lit(batchId)` that no `BatchConstant(…)`
    * encloses. */
  private def unwrappedBatchValues(s: String): Seq[Int] = {
    val wrapped = """\bBatchConstant\s*\(""".r.findAllMatchIn(s).map { m =>
      (m.start, MainSources.closing(s, m.end - 1))
    }.toSeq
    """\b(?:(?:current_timestamp|current_date|localtimestamp)\s*\(\s*\)|lit\s*\(\s*batchId\s*\))"""
      .r.findAllMatchIn(s).map(_.start)
      .filterNot(at => wrapped.exists { case (from, to) => from < at && at < to })
      .toSeq
  }

  test("unwrappedBatchValues finds per-batch values outside BatchConstant, across lines, and nothing else") {
    val found = unwrappedBatchValues(
      """a(unix_timestamp(current_timestamp()).cast("int"))
        |b(df.withColumn("batch_id", lit(batchId)), expr("current_date( )"))
        |c(localtimestamp(), lit(
        |  batchId))
        |d(BatchConstant(unix_timestamp(current_timestamp()).cast("int")))
        |e(graft.functions.BatchConstant(
        |  lit(batchId)), BatchConstant(current_date()))
        |f(current_timestamp, lit(batchId + 1), lit(batchIds), my_current_date())""".stripMargin)
    assert(found.size == 5)
  }

  test("no current_timestamp() / current_date() / localtimestamp() / lit(batchId) outside BatchConstant") {
    val hits = MainSources.files.flatMap { f =>
      val s = MainSources.code(f)
      unwrappedBatchValues(s).map(MainSources.where(f, s, _))
    }
    assert(hits.isEmpty, s"wrap in graft.functions.BatchConstant at: ${hits.mkString(", ")}")
  }
}
