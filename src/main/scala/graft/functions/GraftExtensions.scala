package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get the same
  * codegen'd kernels the DataFrame API uses:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)  // a SparkSession.Builder
  * // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT long_array_dot(a, b), simhash16(toks) FROM t")
  * }}}
  *
  * No custom Rule/SparkStrategy is injected — SURVEY §4: every gus
  * behavior maps to DataFrame built-ins, so scalar/agg expressions are
  * the only Catalyst extension this engine needs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def one(args: Seq[Expression], name: String)
      (f: Expression => Expression): Expression =
    args match {
      case Seq(a) => f(a)
      case _ => throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${args.length}")
    }

  val functions: Seq[FunctionDescription] = {
    val out = Seq.newBuilder[FunctionDescription]
    def e = new Object {
      def injectFunction(f: FunctionDescription): Unit = out += f
    }
    e.injectFunction((FunctionIdentifier("long_array_dot"),
      info("long_array_dot", "_FUNC_(a, b) - exact integer dot product of two bigint arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => LongArrayDot(a, b)
        case _ => throw new IllegalArgumentException(
          "long_array_dot expects exactly 2 arguments")
      }))
    e.injectFunction((FunctionIdentifier("shingle_set"),
      info("shingle_set", "_FUNC_(text) - distinct 3-word shingle set of the normalized text"),
      (args: Seq[Expression]) => one(args, "shingle_set")(ShingleSet)))
    e.injectFunction((FunctionIdentifier("char_shingles"),
      info("char_shingles", "_FUNC_(text) - distinct character 5-gram set"),
      (args: Seq[Expression]) => one(args, "char_shingles")(CharShingles)))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "_FUNC_(shingles) - 64-hex md5 material per shingle"),
      (args: Seq[Expression]) => one(args, "shingle_hashes")(ShingleHashes)))
    e.injectFunction((FunctionIdentifier("simhash16"),
      info("simhash16", "_FUNC_(tokens) - 16-bit SimHash of a token array"),
      (args: Seq[Expression]) => one(args, "simhash16")(Simhash16)))
    e.injectFunction((FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket", "_FUNC_(v[, planes[, offset]]) - random-hyperplane LSH bucket of a bigint vector"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => LshBucket(v, 8)
        case Seq(v, Literal(p: Int, _)) => LshBucket(v, p)
        case Seq(v, Literal(p: Int, _), Literal(o: Int, _)) => LshBucket(v, p, o)
        case _ => throw new IllegalArgumentException(
          "lsh_bucket expects (array[, planes-literal[, offset-literal]])")
      }))
    e.injectFunction((FunctionIdentifier("min_md5"),
      info("min_md5", "_FUNC_(arr[, salt]) - min md5 hex over salted elements"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => MinMd5(a, Literal(""))
        case Seq(a, s) => MinMd5(a, s)
        case _ => throw new IllegalArgumentException(
          "min_md5 expects (array[, salt])")
      }))
    e.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "_FUNC_(text) - polynomial rolling hash of the normalized text"),
      (args: Seq[Expression]) => one(args, "rolling_hash")(RollingHash)))
    // round-5 single-pass text kernels
    e.injectFunction((FunctionIdentifier("norm_text"),
      info("norm_text", "_FUNC_(text) - whitespace-collapsed lowercase normal form"),
      (args: Seq[Expression]) => one(args, "norm_text")(NormText)))
    e.injectFunction((FunctionIdentifier("ws_token_count"),
      info("ws_token_count", "_FUNC_(text) - whitespace token count of the normal form"),
      (args: Seq[Expression]) => one(args, "ws_token_count")(WsTokenCount)))
    e.injectFunction((FunctionIdentifier("bag_norm"),
      info("bag_norm", "_FUNC_(text) - sorted-token bag normal form"),
      (args: Seq[Expression]) => one(args, "bag_norm")(BagNorm)))
    e.injectFunction((FunctionIdentifier("bpe_count"),
      info("bpe_count", "_FUNC_(text) - BPE-ish pre-tokenizer match count"),
      (args: Seq[Expression]) => one(args, "bpe_count")(BpeCount)))
    e.injectFunction((FunctionIdentifier("repetition_stats"),
      info("repetition_stats", "_FUNC_(text) - [n_tokens, top_token, top_bigram, n_tri, n_tri_distinct]"),
      (args: Seq[Expression]) => one(args, "repetition_stats")(RepetitionStats)))
    e.injectFunction((FunctionIdentifier("intersect_count"),
      info("intersect_count", "_FUNC_(a, b) - |a ∩ b| of two distinct string arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => IntersectCount(a, b)
        case _ => throw new IllegalArgumentException(
          "intersect_count expects exactly 2 arguments")
      }))
    e.injectFunction((FunctionIdentifier("token_ngrams"),
      info("token_ngrams", "_FUNC_(text, n) - consecutive n-gram strings (n literal)"),
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(n: Int, _)) => TokenNgrams(t, n)
        case _ => throw new IllegalArgumentException(
          "token_ngrams expects (text, n-literal)")
      }))
    e.injectFunction((FunctionIdentifier("char_shingle_sketch"),
      info("char_shingle_sketch", "_FUNC_(text, windows) - one-digest jaccard sketch (windows literal)"),
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(w: Int, _)) => CharShingleSketch(t, w)
        case _ => throw new IllegalArgumentException(
          "char_shingle_sketch expects (text, windows-literal)")
      }))
    e.injectFunction((FunctionIdentifier("token_shingle_md5"),
      info("token_shingle_md5", "_FUNC_(tokens, k) - md5 of each k-token window (k literal)"),
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(k: Int, _)) => TokenShingleMd5(t, k)
        case _ => throw new IllegalArgumentException(
          "token_shingle_md5 expects (tokens, k-literal)")
      }))
    e.injectFunction((FunctionIdentifier("token_arr"),
      info("token_arr", "_FUNC_(text) - token array of the normal form"),
      (args: Seq[Expression]) => one(args, "token_arr")(TokenArr)))
    e.injectFunction((FunctionIdentifier("min_hex_windows"),
      info("min_hex_windows", "_FUNC_(hashes, width, count) - per-window minima (literals)"),
      (args: Seq[Expression]) => args match {
        case Seq(h, Literal(w: Int, _), Literal(c: Int, _)) =>
          MinHexWindows(h, w, c)
        case _ => throw new IllegalArgumentException(
          "min_hex_windows expects (hashes, width-literal, count-literal)")
      }))
    e.injectFunction((FunctionIdentifier("token_stats"),
      info("token_stats", "_FUNC_(text, stop...) - [n_chars_norm, n_tokens, n_distinct, n_in_stopset]"),
      (args: Seq[Expression]) => args match {
        case t +: stops if stops.forall {
          case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => true
          case _ => false
        } => TokenStats(t, stops.map {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString
        })
        case _ => throw new IllegalArgumentException(
          "token_stats expects (text, stopword-literals...)")
      }))
    out.result()
  }

  /** Register the same functions into an already-running session
    * (builder-time extensions can't be added post-hoc). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, inf, builder) =>
      registry.registerFunction(id, inf, builder)
    }
  }
}
