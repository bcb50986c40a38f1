package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Tables]] the one reader of the registry tables: a
  * schema-less `read.parquet` runs a schema-inference job on every
  * call, and `Tables.apply` infers each path once. A second reader
  * beside it (as `SqlSurface.registerViews` once was) quietly brings
  * that job back on every query. */
class TableReadGuardSpec extends AnyFunSuite {

  private val registryTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Offsets of `read[.option(…)…].parquet(s"…")` with no `.schema(…)`
    * in the chain, whose path starts at `$sfDir` or names a registry
    * table's file. */
  private def schemaLessTableReads(s: String): Seq[Int] =
    """\bread((?:\s*\.\s*(?!schema\b)\w+\([^()]*\))*)\s*\.\s*parquet\s*\(\s*s"([^"]*)""""
      .r.findAllMatchIn(s).filter { m =>
        val path = m.group(2)
        path.matches("""\$\{?sfDir\b.*""") ||
          registryTables.exists(t => path.endsWith(s"/$t.parquet"))
      }.map(_.start).toSeq

  test("schemaLessTableReads finds schema-less table reads, across lines, and nothing else") {
    val found = schemaLessTableReads(
      """a(spark.read.parquet(s"$sfDir/$t.parquet"))
        |b(s.read
        |  .option("mergeSchema", "false").parquet(s"${sfDir}/x.parquet"))
        |c(spark.read.parquet(s"$dir/lineitem.parquet"))
        |d(spark.read.schema(cached).parquet(s"$sfDir/$t.parquet"))
        |e(spark.read.parquet(paths: _*), spark.read.parquet(s"$out/part"))
        |f(spark.read.parquet(corpusDir))""".stripMargin)
    assert(found.size == 3)
  }

  test("no schema-less read of a registry table outside Tables") {
    val hits = MainSources.files.filterNot(_.getName == "Tables.scala").flatMap { f =>
      val s = MainSources.code(f)
      schemaLessTableReads(s).map(MainSources.where(f, s, _))
    }
    assert(hits.isEmpty, s"read registry tables through graft.Tables at: ${hits.mkString(", ")}")
  }
}
