package graft

/** Plan-audit tool: prints `explain("formatted")` for the named queries
  * (all when none given). Usage: graft.Explain <sfDir> [query...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq
    // a fixed local[4], the session PLANS.md was generated under
    val spark = Session.local(4)
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
