package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{BpePairArray, BpeRewrite, DeflateLen, DotProduct, Md5Long60, MinhashSigArray, NgramDupFraction, NgramTopFraction, RollingHash, ShingleArray, Slugify, StripAccents}

/** Spark session extension registering graft's custom Catalyst expressions
  * as SQL functions, so `spark.sql("SELECT slugify(name) ...")` works the
  * same as the Column API. Install at session construction with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`), or into an already-running
  * session with `GraftExtensions.install(spark)` (functions only — the
  * analyzer rule below needs construction-time install).
  *
  * The engine's operators are all expressible as Catalyst logical plans
  * through the DataFrame API (SURVEY §4), so the plan-level extensions
  * are exactly what the Delta pattern needs (catalog resolves,
  * extension rewrites): [[graft.plans.DvReadRewrite]] serving SQL reads
  * of deletion-vector-carrying [[graft.sources.GraftCatalog]] versions,
  * [[graft.plans.GraftSqlDml]] routing SQL DML/DDL through the
  * merge-on-read engine's commit protocol (every keyed DELETE/UPDATE/
  * MERGE form through the one keyed command,
  * [[graft.plans.GraftMergeMatchedCommand]]), and
  * [[graft.plans.GraftSqlParser]] adding the maintenance verbs
  * (OPTIMIZE/VACUUM/RESTORE) Spark's grammar lacks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // DML first: a DELETE/UPDATE target must be intercepted before the
    // DV read-rewrite dissolves its relation into a read plan
    ext.injectResolutionRule(graft.plans.GraftSqlDml(_))
    ext.injectResolutionRule(graft.plans.DvReadRewrite(_))
    // the maintenance verbs (OPTIMIZE/VACUUM/RESTORE) are not in
    // Spark's grammar — a delegating parser intercepts exactly those
    // statement shapes (the Delta pattern)
    ext.injectParser((_, parser) =>
      new graft.plans.GraftSqlParser(parser))
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** The registered surface: (identifier, doc, builder) triples shared by
    * the construction-time and live-session paths. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("slugify"),
      info("slugify", "slugify(str) - accent-strip + lowercase + [a-z0-9_-] slug"),
      (args: Seq[Expression]) => Slugify(args.head)),
    (FunctionIdentifier("strip_accents"),
      info("strip_accents", "strip_accents(str) - NFD-decompose and drop combining marks"),
      (args: Seq[Expression]) => StripAccents(args.head)),
    (FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(str) - polynomial rolling hash mod 1e9+7"),
      (args: Seq[Expression]) => RollingHash(args.head)),
    (FunctionIdentifier("md5_long60"),
      info("md5_long60", "md5_long60(str) - first 60 md5 bits as a non-negative long"),
      (args: Seq[Expression]) => Md5Long60(args.head)),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(arr, arr) - strict left-fold double dot product"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))),
    (FunctionIdentifier("deflate_len"),
      info("deflate_len", "deflate_len(str) - DEFLATE-compressed byte count (level 6)"),
      (args: Seq[Expression]) => DeflateLen(args.head)),
    (FunctionIdentifier("shingle_array"),
      info("shingle_array", "shingle_array(arr, k) - k-token shingles joined by one space"),
      (args: Seq[Expression]) => ShingleArray(args.head, args(1))),
    (FunctionIdentifier("ngram_dup_fraction"),
      info("ngram_dup_fraction", "ngram_dup_fraction(arr, n) - duplicate n-gram fraction"),
      (args: Seq[Expression]) => NgramDupFraction(args.head, args(1))),
    (FunctionIdentifier("ngram_top_fraction"),
      info("ngram_top_fraction", "ngram_top_fraction(arr, n) - top n-gram occupancy fraction"),
      (args: Seq[Expression]) => NgramTopFraction(args.head, args(1))),
    (FunctionIdentifier("minhash_sig_array"),
      info("minhash_sig_array", "minhash_sig_array(shingles) - 12-permutation MinHash signature (null if empty)"),
      (args: Seq[Expression]) => MinhashSigArray(args.head)),
    (FunctionIdentifier("bpe_pair_array"),
      info("bpe_pair_array", "bpe_pair_array(toks) - adjacent (l, r) unit pairs as structs"),
      (args: Seq[Expression]) => BpePairArray(args.head)),
    (FunctionIdentifier("bpe_rewrite"),
      info("bpe_rewrite", "bpe_rewrite(toks, pairs) - greedy left-to-right batch pair merge"),
      (args: Seq[Expression]) => BpeRewrite(args.head, args(1))))

  /** Register into a live session. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, fi, b) =>
      Bridge.registerFunction(spark, id, fi, b)
    }
}
