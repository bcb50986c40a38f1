package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (`spark.sql.extensions=graft.functions.GraftExtensions`):
  * registers the engine's native expressions as SQL functions, so
  * `spark.sql("SELECT graft_polyhash(text) ...")` plans the codegen'd
  * expression directly. [[GraftExtensions.register]] does the same
  * imperatively on an existing session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.polyhash)
    ext.injectFunction(GraftExtensions.sentiment)
    ext.injectFunction(GraftExtensions.cleanTweet)
    ext.injectFunction(GraftExtensions.jaroWinkler)
    ext.injectFunction(GraftExtensions.extractHashtags)
    ext.injectFunction(GraftExtensions.country)
    ext.injectFunction(GraftExtensions.nfcNormalize)
    ext.injectFunction(GraftExtensions.stripAccents)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKey.TopKStrategy)
  }
}

object GraftExtensions {

  private def unary(name: String, clazz: Class[_], build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"$name expects exactly 1 argument, got ${children.length}")
      build(children.head)
    })

  private[graft] val polyhash =
    unary("graft_polyhash", classOf[PolyHashExpression], PolyHashExpression(_))
  private[graft] val sentiment =
    unary("graft_sentiment", classOf[SentimentScoreExpression], SentimentScoreExpression(_))
  private[graft] val cleanTweet =
    unary("graft_clean_tweet", classOf[graft.text.CleanTweetTextExpression],
      graft.text.CleanTweetTextExpression(_))

  private[graft] val jaroWinkler: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinklerExpression].getName, "graft_jaro_winkler"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_jaro_winkler expects exactly 2 arguments, got ${children.length}")
      JaroWinklerExpression(children.head, children(1))
    })

  private[graft] val extractHashtags =
    unary("graft_extract_hashtags", classOf[graft.text.ExtractHashtagsExpression],
      graft.text.ExtractHashtagsExpression(_))
  private[graft] val country =
    unary("graft_country", classOf[CountryExpression], CountryExpression(_))
  private[graft] val nfcNormalize =
    unary("graft_nfc_normalize", classOf[NfcNormalizeExpression],
      NfcNormalizeExpression(_))
  private[graft] val stripAccents =
    unary("graft_strip_accents", classOf[StripAccentsExpression],
      StripAccentsExpression(_))

  private val all =
    Seq(polyhash, sentiment, cleanTweet, jaroWinkler, extractHashtags, country,
      nfcNormalize, stripAccents)

  /** Imperative registration on a live session (tests, notebooks):
    * functions plus the range-join rewrite (idempotent — the rule runs
    * in the experimental batch when it can't be injected at session
    * build time), and the fork-free local file system on the session's
    * Hadoop configuration ([[graft.io.LocalIo]], which says what a
    * session built outside [[graft.Session]] gets from it). */
  def register(spark: SparkSession): Unit = {
    graft.io.LocalIo.install(spark.sparkContext.hadoopConfiguration)
    all.foreach { f =>
      spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
    val topK = graft.plans.TopKPerKey.TopKStrategy
    if (!spark.experimental.extraStrategies.contains(topK))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ topK
  }

  /** Column-API access to the native expression (no registration needed). */
  def polyhashCol(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PolyHashExpression(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** The second polynomial family (see [[PolyHashExpression.Mult2]]) —
    * used where one hash family's collisions must not be fatal. */
  def polyhash2Col(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PolyHashExpression(org.apache.spark.sql.GraftColumnBridge.expression(c),
        PolyHashExpression.Mult2, PolyHashExpression.Prime2))
}
