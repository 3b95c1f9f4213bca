package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{NormalizeNFC, VecCosine, VecDot, ZOrderKey}

/** SQL-surface registration of graft's custom Catalyst expressions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the Column
  * API (SURVEY §2.10 registration path).
  *
  * Two entry points:
  *  - `new SparkSession.Builder().withExtensions(new GraftExtensions)`
  *    or `spark.sql.extensions=graft.GraftExtensions` at session build;
  *  - [[GraftExtensions.register]] for an already-running session.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // transparent materialized-view rewrite (no-op until a view is
    // registered in MvCatalog)
    e.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
    // left-predicate pushdown through the native as-of join node; in
    // the extensions path this runs inside the operator-optimization
    // batch, BEFORE scan pushdown, so pushed predicates reach
    // PushedFilters / partition pruning
    e.injectOptimizerRule(_ => graft.plans.AsofJoinPushdown)
    // the latest-per-key kernel under every CDC path
    e.injectPlannerStrategy(_ => graft.plans.LatestPerKeyStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[VecDot].getName, name)

  /** Arity guard: a builder applying `args(i)` unchecked surfaces
    * `SELECT nfc_normalize()` as an IndexOutOfBoundsException; analysis
    * errors are the contract for bad SQL. */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    args =>
      if (args.length == n) build(args)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays"),
      arity("vec_dot", 2)(args => VecDot(args(0), args(1)))),
    ("vec_cosine",
      info("vec_cosine", "vec_cosine(a, b) - single-pass cosine similarity"),
      arity("vec_cosine", 2)(args => VecCosine(args(0), args(1)))),
    ("zorder_key",
      info("zorder_key", "zorder_key(a, b) - Morton interleave of the low " +
        "16 bits of two bigints, for multi-dimensional layout clustering"),
      arity("zorder_key", 2)(args => ZOrderKey(args(0), args(1)))),
    ("hilbert_key",
      info("hilbert_key", "hilbert_key(a, b) - Hilbert-curve distance of " +
        "two bigints on the 2^16 square grid, the locality-stronger " +
        "clustering key (no diagonal jumps, unlike zorder_key)"),
      arity("hilbert_key", 2)(args =>
        graft.functions.HilbertKey(args(0), args(1), 16))),
    ("nfc_normalize",
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical " +
        "normalization (composed forms), the pre-hash cleaning step"),
      arity("nfc_normalize", 1)(args => NormalizeNFC(args(0)))),
    ("deflate_size",
      info("deflate_size", "deflate_size(s) - DEFLATE-compressed byte " +
        "size of s at level 6; deflate_size(s) / octet_length(s) is the " +
        "compression-ratio repetitiveness signal for corpus curation"),
      arity("deflate_size", 1)(args =>
        graft.functions.DeflateSize(args(0)))),
    ("bpe_merge",
      info("bpe_merge", "bpe_merge(arr, 'a', 'b') - one greedy BPE merge " +
        "pass: every non-overlapping adjacent (a, b) in the string array " +
        "becomes the symbol 'a b'"),
      arity("bpe_merge", 3)(args =>
        graft.functions.BpeMergePass(args(0),
          literalString("bpe_merge", args(1)),
          literalString("bpe_merge", args(2))))),
    ("damerau_levenshtein",
      info("damerau_levenshtein", "damerau_levenshtein(a, b) - " +
        "unrestricted Damerau-Levenshtein edit distance (adjacent " +
        "transposition costs 1; Lowrance-Wagner variant)"),
      arity("damerau_levenshtein", 2)(args =>
        graft.functions.DamerauLevenshtein(args(0), args(1)))),
    ("jaro_winkler",
      info("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler " +
        "similarity in [0,1] (prefix-weighted, DuckDB-compatible: " +
        "no boost threshold, prefix <= 4, scaling 0.1)"),
      arity("jaro_winkler", 2)(args =>
        graft.functions.JaroWinkler(args(0), args(1)))))

  /** The merge pair of `bpe_merge` parameterizes generated code, so it
    * must be a foldable string (a literal), not a per-row column. */
  private def literalString(fn: String, e: Expression): String = {
    val value =
      if (e.foldable && e.dataType == org.apache.spark.sql.types.StringType)
        e.eval(null)
      else null
    // a foldable NULL must be rejected too: String.valueOf(null) would
    // silently turn it into the pair symbol "null"
    if (value == null) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fn`",
        "paramName" -> "`pair`",
        "paramType" -> "\"STRING\" literal"))
    value.toString
  }

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    // MV rewrite for sessions not built with the extensions class
    if (!spark.experimental.extraOptimizations.contains(graft.plans.MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.MvRewriteRule
    graft.plans.LatestPerKey.ensureRegistered(spark)
    // typed Aggregator surface (SURVEY §2.10): bounded per-group top-k,
    // callable from SQL as topk_scored(score, id)
    spark.udf.register("topk_scored",
      org.apache.spark.sql.functions.udaf(
        new graft.functions.TopK.TopKAggregator(10),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[graft.functions.TopK.ScoredId]()))
    // mergeable KMV distinct sketch, callable as kmv_sketch(hash, key)
    spark.udf.register("kmv_sketch",
      org.apache.spark.sql.functions.udaf(
        new graft.functions.KmvSketch.KmvAggregator(64),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[graft.functions.KmvSketch.HashedKey]()))
  }
}
