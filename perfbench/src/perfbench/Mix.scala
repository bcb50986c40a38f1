package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `registry_queries`: one closed-loop client running a fixed mix of
  * registry queries, each request being the query's construction through
  * `SparkEntry.queries` plus a `noop` write.
  *
  * Order per run: set-up cycles, one correctness pass that also warms
  * code generation and the page cache (every result written to parquet
  * for the DuckDB compare run by run.py), [[WarmPasses]] untimed passes
  * for the JIT, then timed passes until
  * `--seconds` have elapsed and at least [[MinPasses]] have run, each
  * pass in its own seed-permuted order. */
object Mix {
  /** One query per family, chosen by module before any result was
    * checked: two `graft.ops` families and two `graft.llm` ones. The
    * families left out, and why, are in README.md. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "ops.relational" -> Seq("q1_agg"),
    "ops.windows" -> Seq("sliding_counts"),
    "llm.tokenizers" -> Seq("bpe_merges_8"),
    "llm.media" -> Seq("media_meta"))

  /** Untimed `noop` passes after the correctness pass: the run time of a
    * pass keeps falling over the first four or five executions in a JVM
    * while the JIT compiles, and how fast it falls differs from run to
    * run. */
  val WarmPasses = 3

  /** Every query's latency is the median of at least this many runs. */
  val MinPasses = 3

  def run(b: Bench): Unit = {
    val a = b.a
    val r = b.r
    val data = a("data")
    val names = Families.flatMap(_._2)
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    val rng = new scala.util.Random(a.seed)
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val (spark, _) = b.setup() { s =>
      tables.foreach(t => s.read.parquet(s"$data/$t.parquet").schema)
    }
    val sc = spark.sparkContext

    // correctness + warm pass, outside the timed passes
    val results = a("results")
    val t0 = b.now
    val wrong = mutable.LinkedHashMap[String, String]()
    val warmS = mutable.LinkedHashMap[String, Double]()
    rng.shuffle(names).foreach { n =>
      val q0 = b.now
      try registry(n)(spark, data).write.mode("overwrite").parquet(s"$results/$n")
      catch { case e: Throwable =>
        wrong(n) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
      warmS(n) = (b.now - q0) / 1e9
    }
    r.detail("warm_query_s") = warmS.toMap
    r.detail("warm_pass_s") = (b.now - t0) / 1e9
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Json.value(oracle))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/errors.json"),
      Json.value(wrong.toMap))

    // timed passes
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passS = mutable.ArrayBuffer[Double]()
    val walls = mutable.ArrayBuffer[(String, Long, Long)]()
    var buildMs = 0.0
    var req = 0L
    r.detail("warm_noop_s") = (1 to WarmPasses).map { _ =>
      val p0 = b.now
      rng.shuffle(names.filterNot(wrong.contains)).foreach { n =>
        try registry(n)(spark, data).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => r.error(n, e) }
      }
      (b.now - p0) / 1e9
    }
    b.begin(spark)
    val w0 = b.now
    while (passS.length < MinPasses || (b.now - w0) / 1e9 < a.seconds) {
      val p0 = b.now
      rng.shuffle(names).foreach { n =>
        req += 1
        r.attempted += 1
        val tag = s"req-$req"
        sc.setLocalProperty(ExecStats.ReqKey, tag)
        val e0 = System.currentTimeMillis()
        val q0 = b.now
        try {
          b.tracer.span("request", req) {
            val df = b.tracer.span("sparkentry.build") {
              sc.setLocalProperty(ExecStats.LayerKey, "build")
              val bs = b.now
              try registry(n)(spark, data)
              finally {
                sc.setLocalProperty(ExecStats.LayerKey, null)
                buildMs += (b.now - bs) / 1e6
              }
            }
            b.tracer.span("exec.action") {
              df.write.mode("overwrite").format("noop").save()
            }
          }
          val ms = (b.now - q0) / 1e6
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) += ms
          walls += ((tag, e0, System.currentTimeMillis()))
        } catch { case e: Throwable =>
          r.failed += 1
          r.error(n, e)
        } finally sc.setLocalProperty(ExecStats.ReqKey, null)
      }
      passS += (b.now - p0) / 1e9
    }
    b.end(spark)

    // the mix's latency figures are taken over per-query medians, so a
    // single slow run of one query does not move them
    val medians = perQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
    r.e2e("pass_s") = Stats.median(passS.toSeq)
    r.e2e("latency_p50_ms") = Stats.median(medians.values.toSeq)
    r.e2e("latency_tail_ms") = if (medians.isEmpty) Double.NaN else medians.values.max
    r.detail("passes") = passS.length
    r.detail("pass_series_s") = passS.toSeq
    r.detail("query_median_ms") = medians
    r.detail("query_samples_ms") = perQuery.map { case (k, v) => k -> v.toSeq }.toMap
    r.checks("queries_ran") = wrong.isEmpty
    if (wrong.nonEmpty) r.detail("query_errors") = wrong.toMap

    // driver gap: request wall time not covered by any of its jobs
    val jobsByTag = b.exec.finishedJobs.groupBy(_.tag)
    val gaps = walls.toSeq.map { case (tag, s, e) =>
      b.gapMs(s, e, jobsByTag.getOrElse(tag, Nil).map(j => (j.start, j.end)))
    }
    val passes = passS.length.toDouble
    b.commonLayers(passes, if (gaps.isEmpty) 0.0 else gaps.sum / passes)
    r.layers("sparkentry.build_ms") = buildMs / passes
    r.layers("sparkentry.eager_jobs") = b.exec.buildJobs.get / passes
    Families.foreach { case (fam, qs) =>
      r.layers(s"${fam}_s") = qs.flatMap(medians.get).sum / 1000.0
    }
  }
}
