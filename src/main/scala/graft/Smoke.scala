package graft

/** Local smoke runner for the driver's t1 check: runs `SparkEntry.entry`
  * (flagship trend query, sf0.001) and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val df = SparkEntry.entry(spark)
    df.show(10, false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
