package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

import graft.functions.expressions.{CosineSimilarity, DotProduct, L2Distance, LshBandKeysExpr, Simhash64Expr, SimhashMd5Expr, WinnowExpr, WordShinglesExpr}

/** Registry for graft's native Catalyst expressions. `register` makes them
  * callable from SQL and from `call_function` (idempotent per session;
  * invoked by Tables.load and LocalSession, or via `GraftExtensions` at
  * session build time).
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("cosine_similarity", es => CosineSimilarity(es(0), es(1)),
      "cosine similarity of two float arrays"),
    ("l2_distance", es => L2Distance(es(0), es(1)),
      "euclidean distance of two float arrays"),
    ("dot_product", es => DotProduct(es(0), es(1)),
      "dot product of two float arrays"),
    ("simhash64", es => Simhash64Expr(es(0)),
      "64-bit SimHash fingerprint of a token array"),
    ("simhash_md5", es => SimhashMd5Expr(es(0)),
      "engine-portable md5-keyed SimHash fingerprint (16-char hex)"),
    ("lsh_band_keys", es => LshBandKeysExpr(es(0),
      litInt(es(1)), litInt(es(2)), litInt(es(3))),
      "one-pass MinHash+LSH band keys over a token array"),
    ("word_shingles", es => WordShinglesExpr(es(0), litInt(es(1))),
      "distinct word n-gram shingles of a token array"),
    ("winnow_fps", es => WinnowExpr(es(0), litInt(es(1)), litInt(es(2))),
      "one-pass winnowing fingerprints (k-gram md5 window minima)"))

  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"native-function shape parameters must be integer literals, got $other")
  }

  // Registering replaces any existing binding and Spark logs a "function
  // replaced" warning each time; guard per-session so repeated Tables.load
  // calls don't spam hundreds of warnings into the driver log.
  private val registeredTag = "graft.functions.registered"

  def register(spark: SparkSession): Unit = {
    if (spark.conf.getOption(registeredTag).contains("true")) return
    all.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.conf.set(registeredTag, "true")
  }

  /** SQL-facing descriptions for SparkSessionExtensions.injectFunction. */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    all.map { case (name, builder, usage) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSimilarity].getName, name, usage),
        builder)
    }

  // Column-level entry points (codegen'd native expressions)
  def cosine_similarity(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)
  def l2_distance(a: Column, b: Column): Column =
    call_function("l2_distance", a, b)
  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
  def simhash64(tokens: Column): Column =
    call_function("simhash64", tokens)
  def simhash_md5(tokens: Column): Column =
    call_function("simhash_md5", tokens)
  def word_shingles(tokens: Column, gram: Int): Column =
    call_function("word_shingles", tokens,
      org.apache.spark.sql.functions.lit(gram))
  def lsh_band_keys(tokens: Column, gram: Int, k: Int, bands: Int): Column =
    call_function("lsh_band_keys", tokens,
      org.apache.spark.sql.functions.lit(gram),
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(bands))
  def winnow_fps(text: Column, k: Int, w: Int): Column =
    call_function("winnow_fps", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
}

/** A session extension (`spark.sql.extensions`, or `withExtensions` when
  * a session is built) that registers the native functions at session
  * build time (SURVEY §4.2).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(e.injectFunction)
}
