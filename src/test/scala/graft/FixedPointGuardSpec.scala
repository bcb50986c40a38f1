package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the BigDecimal round-to-long idiom out of the engine: Spark
  * compiles `round(y).cast("long")` to a per-row
  * `BigDecimal.valueOf(y).setScale(0, HALF_UP)`, and
  * [[graft.functions.FixedPoint.units]] computes the same value without
  * it. Only the plain-SQL surface (`SqlSurface`) and the DuckDB oracle
  * SQL (`Oracles*`) keep the built-in. PlanAuditSpec pins the same
  * for q1_agg's optimized plan. */
class FixedPointGuardSpec extends AnyFunSuite {

  /** Index of the `)` that closes the `(` at `open`, or -1. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Offsets of `round(…).cast("long")` and `cast(round(…) as long)`. */
  private def slowRounds(s: String): Seq[Int] = {
    val columnForm = "(?<![.\\w])round\\(".r.findAllMatchIn(s).map(_.start).filter { at =>
      val end = closing(s, at + "round".length)
      end >= 0 && s.substring(end + 1).matches("(?s)\\s*\\.cast\\(\\s*\"long\"\\s*\\).*")
    }
    val sqlForm = "(?i)(?<![.\\w])cast\\(\\s*round\\(".r.findAllMatchIn(s).map(_.start).filter { at =>
      val open = s.indexOf('(', s.toLowerCase.indexOf("round", at))
      val end = closing(s, open)
      end >= 0 && s.substring(end + 1).matches("(?is)\\s+as\\s+(long|bigint)\\s*\\).*")
    }
    (columnForm ++ sqlForm).toSeq.sorted
  }

  test("slowRounds finds both forms, across lines, and nothing else") {
    val found = slowRounds(
      """a(round(col("x") * (lit(1.0) - col("d"))
        |  * 100).cast("long"))
        |b(expr("cast(round(v * 100) as long)"))
        |c(expr("CAST(round((x) * 100) AS BIGINT)"))
        |d(round(col("x"), 4), math.round(y), round(x).cast("int"))""".stripMargin)
    assert(found.size == 3)
  }

  test("no round(…).cast(\"long\") / cast(round(…) as long) outside SqlSurface and Oracles") {
    val hits = MainSources.files
      .filterNot(f => f.getName == "SqlSurface.scala" || f.getName.startsWith("Oracles"))
      .flatMap { f =>
        val s = MainSources.code(f)
        slowRounds(s).map(MainSources.where(f, s, _))
      }
    assert(hits.isEmpty, s"use graft.functions.FixedPoint.units at: ${hits.mkString(", ")}")
  }
}
