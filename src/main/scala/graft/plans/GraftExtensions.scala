package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions.{BloomMightContain, CmsEstimate, CosineSimF32, CountInSet, DotProductF32, MinHashArr, MinHashSigAgg, Mix64, RollHash31, ShingleHashes, SignLsh, SimHash64, SimHashSigAgg, SumStrLen, TopKByAgg, WordNgrams}

/** SparkSessionExtensions injector for graft's native functions,
  * optimizer rules and planner strategy.
  *
  * Session contract: graft's operators assume every extension point is
  * installed on the session they run on. A session gets them in one of
  * three ways:
  *  - build it with [[graft.engine.Sessions.create]];
  *  - set `spark.sql.extensions=graft.plans.GraftExtensions` before the
  *    session is created (the cluster path);
  *  - call [[GraftExtensions.register]] once on an existing session.
  * [[graft.SparkEntry.queries]] and [[graft.sqlapi.QueryEngine]] call
  * `register` themselves, so those two front doors accept any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", "", name, usage, "", "", "", "", "", "", "built-in")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("dot_f32"),
      info("dot_f32", "dot_f32(a, b) - double dot product of two float arrays"),
      (es: Seq[Expression]) => DotProductF32(es(0), es(1))),
    (FunctionIdentifier("cosine_f32"),
      info("cosine_f32", "cosine_f32(a, b) - cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSimF32(es(0), es(1))),
    (FunctionIdentifier("l2sq_i64"),
      info("l2sq_i64", "l2sq_i64(a, b) - exact squared-L2 of two bigint arrays"),
      (es: Seq[Expression]) => graft.functions.L2SqI64(es(0), es(1))),
    (FunctionIdentifier("sign_lsh"),
      info("sign_lsh",
        "sign_lsh(vec, [planeOffset,] nBits) - random-hyperplane sign-LSH signature"),
      (es: Seq[Expression]) =>
        if (es.length == 2)
          SignLsh(es(0), org.apache.spark.sql.catalyst.expressions.Literal(0), es(1))
        else SignLsh(es(0), es(1), es(2))),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hash) - aggregate: 64 minhash minima as array<bigint>"),
      (es: Seq[Expression]) => MinHashSigAgg(es(0))),
    (FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(hash) - aggregate: 64-bit simhash signature"),
      (es: Seq[Expression]) => SimHashSigAgg(es(0))),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text) - distinct word-3-gram hashes as array<bigint>"),
      (es: Seq[Expression]) => ShingleHashes(es(0))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit simhash of the document's tokens"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    (FunctionIdentifier("minhash_arr"),
      info("minhash_arr", "minhash_arr(arr) - 64 minhash minima of an array<bigint>"),
      (es: Seq[Expression]) => MinHashArr(es(0))),
    (FunctionIdentifier("topk_by"),
      info("topk_by", "topk_by(ord, id, k) - aggregate: k largest (ord, id) pairs, map-side pruned"),
      (es: Seq[Expression]) => TopKByAgg(es(0), es(1), es(2))),
    (FunctionIdentifier("count_in_set"),
      info("count_in_set", "count_in_set(arr, set) - elements of arr contained in the literal string set"),
      (es: Seq[Expression]) => CountInSet(es(0), es(1))),
    (FunctionIdentifier("sum_strlen"),
      info("sum_strlen", "sum_strlen(arr) - total character count of an array<string>"),
      (es: Seq[Expression]) => SumStrLen(es(0))),
    (FunctionIdentifier("roll_hash31"),
      info("roll_hash31", "roll_hash31(text) - 31-ary polynomial rolling hash mod 1e9+7"),
      (es: Seq[Expression]) => RollHash31(es(0))),
    (FunctionIdentifier("winnow_hashes"),
      info("winnow_hashes",
        "winnow_hashes(text, k, w) - distinct winnowing fingerprints (min k-gram hash per w-window)"),
      (es: Seq[Expression]) => graft.functions.WinnowHashes(es(0), es(1), es(2))),
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(filter_bytes, item) - probe a serialized bloom filter literal"),
      (es: Seq[Expression]) => BloomMightContain(es(0), es(1))),
    (FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(text, n) - distinct space-joined word n-grams as array<string>"),
      (es: Seq[Expression]) => WordNgrams(es(0), es(1))),
    (FunctionIdentifier("cms_estimate"),
      info("cms_estimate",
        "cms_estimate(sketch_bytes, item) - estimated count from a serialized count-min sketch literal"),
      (es: Seq[Expression]) => CmsEstimate(es(0), es(1))),
    (FunctionIdentifier("mix64"),
      info("mix64", "mix64(h) - splitmix64 finalizer (salt 0) of a bigint"),
      (es: Seq[Expression]) => Mix64(es(0))),
    (FunctionIdentifier("cdc_bounds"),
      info("cdc_bounds",
        "cdc_bounds(payload, mask) - content-defined chunk fence posts [0, boundaries..., length]"),
      (es: Seq[Expression]) => graft.functions.CdcBounds(es(0), es(1))),
    (FunctionIdentifier("byte_histogram"),
      info("byte_histogram",
        "byte_histogram(payload) - 256-bin byte-value histogram of a binary column"),
      (es: Seq[Expression]) => graft.functions.ByteHistogram(es(0))),
    (FunctionIdentifier("phash64"),
      info("phash64",
        "phash64(payload) - 64-bit dHash over the payload's 8x9 block-mean grid"),
      (es: Seq[Expression]) => graft.functions.PHash64(es(0))),
    (FunctionIdentifier("pcm16_energy"),
      info("pcm16_energy",
        "pcm16_energy(payload, win) - per-window exact energy of little-endian int16 PCM"),
      (es: Seq[Expression]) => graft.functions.Pcm16Energy(es(0), es(1))))

  /** Optimizer rules, in the order they run. */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(ApproxNdvRule, ApproxPercentileRule, NativeTextRewriteRule, MvRewriteRule)

  val strategies: Seq[SparkStrategy] = Seq(AsofJoinStrategy)

  // Sessions already registered: re-registering a function logs one WARN
  // per function ("replaced a previously registered function").
  // Weak keys: a dropped session must not be pinned by this cache.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Install every function, rule and strategy on an already-built
    * session (temp functions; idempotent and quiet: repeat calls on the
    * same session are no-ops, and a rule or strategy already present is
    * not added twice).
    * Registration runs INSIDE computeIfAbsent (SynchronizedMap holds its
    * mutex across the mapping function): a concurrent second caller
    * blocks until the extensions actually exist rather than racing past a
    * premature mark, and a registration that throws leaves the session
    * unmarked so the next call retries.
    */
  def register(spark: SparkSession): Unit = {
    registered.computeIfAbsent(spark, _ => {
      functions.foreach { case (ident, inf, builder) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(ident.funcName, builder, "built-in")
      }
      val ex = spark.experimental
      ex.extraOptimizations = ex.extraOptimizations ++ rules.filterNot(ex.extraOptimizations.contains)
      ex.extraStrategies = ex.extraStrategies ++ strategies.filterNot(ex.extraStrategies.contains)
      java.lang.Boolean.TRUE
    })
    ()
  }
}
