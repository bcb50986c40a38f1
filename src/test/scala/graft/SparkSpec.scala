package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM (suites run
  * sequentially; session startup is ~5 s and must not be per-suite).
  * Built on the mains' config ([[Session.builder]]) with a throwaway
  * warehouse. The extensions are NOT registered here: specs register
  * them where they need them, because RangeJoinRuleSpec adds and
  * removes a rule on this shared session. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  /** One-string-column DataFrame. */
  def textDf(colName: String, values: Seq[String]) = {
    import org.apache.spark.sql.types._
    val rows = values.map(v => org.apache.spark.sql.Row(v)).asJava
    spark.createDataFrame(rows,
      StructType(Seq(StructField(colName, StringType, nullable = true))))
  }

  /** Evaluate a Column over single string inputs, collecting results. */
  def evalText[T](values: Seq[String])(c: org.apache.spark.sql.Column): Seq[T] =
    textDf("text", values).select(c.as("r")).collect()
      .toSeq.map(_.get(0).asInstanceOf[T])

  /** All physical nodes of a plan, descending into AQE's wrapped plan,
    * into materialized query stages (leaf-like after execution), and
    * into subqueries — the one shared plan flattener, so no spec can
    * accidentally audit a plan while missing wrapped nodes. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val self = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: planNodes(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(planNodes) ++ p.subqueries.flatMap(planNodes)
  }
}
