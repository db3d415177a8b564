package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BigramLmStats, BigramRepStats, CharEntropyStats, CollectBoundedLongs, Md5Prefix60, MinhashSig, ShingleCodes, SimhashVotes, TopKStructs, VecDot}

/** Engine extensions, activated with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (done by
  * `Tables.configure`) — the public registration path for custom Catalyst
  * expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: the raw `Seq[Expression] => Expression` form
    * would let `winnow_prints(l, 5)` silently DROP the extra argument
    * (ADVICE r11) — an analysis-time error is the contract every builtin
    * honors, so every graft builder goes through this guard.
    */
  private def exact(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> children.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(children)
    }

  /** User-facing analysis error for bad literal arguments to graft
    * functions — `USER_RAISED_EXCEPTION` rather than `INTERNAL_ERROR`
    * (ADVICE r13): the caller wrote the bad call, the engine did not break.
    */
  private def userError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> msg))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      exact("vec_dot", 2)(c => VecDot(c(0), c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("bigram_lm_stats"),
      new ExpressionInfo(classOf[BigramLmStats].getName, "bigram_lm_stats"),
      exact("bigram_lm_stats", 3)(c => BigramLmStats(c(0), c(1), c(2)))))
    ext.injectFunction((
      new FunctionIdentifier("bigram_rep_stats"),
      new ExpressionInfo(classOf[BigramRepStats].getName, "bigram_rep_stats"),
      exact("bigram_rep_stats", 1)(c => BigramRepStats(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("token_runs"),
      new ExpressionInfo(classOf[graft.functions.TokenRuns].getName,
        "token_runs"),
      exact("token_runs", 1)(c => graft.functions.TokenRuns(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("bigram_counts"),
      new ExpressionInfo(classOf[graft.functions.BigramCounts].getName,
        "bigram_counts"),
      exact("bigram_counts", 1)(c => graft.functions.BigramCounts(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("token_roll_hash"),
      new ExpressionInfo(classOf[graft.functions.TokenRollHash].getName,
        "token_roll_hash"),
      exact("token_roll_hash", 1)(c => graft.functions.TokenRollHash(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("char_entropy_stats"),
      new ExpressionInfo(classOf[CharEntropyStats].getName, "char_entropy_stats"),
      exact("char_entropy_stats", 1)(c => CharEntropyStats(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      exact("md5_prefix60", 1)(c => Md5Prefix60(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_codes"),
      new ExpressionInfo(classOf[ShingleCodes].getName, "shingle_codes"),
      exact("shingle_codes", 1)(c => ShingleCodes(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("collect_bounded"),
      new ExpressionInfo(classOf[CollectBoundedLongs].getName, "collect_bounded"),
      exact("collect_bounded", 2)(c => CollectBoundedLongs(c(0), c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(
        classOf[graft.functions.BitmapDistinctLong].getName, "bitmap_distinct"),
      exact("bitmap_distinct", 1)(c =>
        graft.functions.BitmapDistinctLong(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("topk_structs"),
      new ExpressionInfo(classOf[TopKStructs].getName, "topk_structs"),
      exact("topk_structs", 3)(c => TopKStructs(c(0), c(1), c(2)))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_prints"),
      new ExpressionInfo(classOf[graft.functions.WinnowPrints].getName,
        "winnow_prints"),
      exact("winnow_prints", 1)(c => graft.functions.WinnowPrints(c.head))))
    // Spark ships these two for its own runtime-filter rewrites but does
    // not register them in the public FunctionRegistry; exposing them via
    // the extension gives queries the classic bloom semi-join reduction
    // (build a fixed-size sketch of the small side, prefilter the big side
    // in codegen, exact-join only the survivors) without reimplementing
    // the sketch.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      exact("bloom_agg", 3)(c =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          c(0), c(1), c(2)))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      exact("bloom_might_contain", 2)(c =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          c(0), c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("simhash_votes"),
      new ExpressionInfo(classOf[SimhashVotes].getName, "simhash_votes"),
      exact("simhash_votes", 1)(c => SimhashVotes(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      exact("minhash_sig", 4)(c => MinhashSig(c(0), c(1), c(2), c(3)))))
    // Exact fixed-point views of a double: the unscaled long of
    // CAST(x AS DECIMAL(18,s)), computed allocation-free on the hot path
    // (see graft.functions.FixedPointLong) — sum(DECIMAL) widens past the
    // 18-digit compact representation and the decimal formulation of an
    // exact money sum otherwise allocates BigDecimals per row in the
    // aggregation loop (measured: 2-4x wall time + multi-second GC spikes
    // on the a10 rollup at sf1). The unscaled long feeds a primitive sum;
    // Tables.dsum2/dsum4 divide back.
    def unscaled(name: String, scale: Int): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(
          classOf[graft.functions.FixedPointLong].getName, name),
        exact(name, 1)(c =>
          graft.functions.FixedPointLong(c.head, scale))))
    unscaled("unscaled2", 2)
    unscaled("unscaled4", 4)
    ext.injectFunction((
      new FunctionIdentifier("window_hashes"),
      new ExpressionInfo(classOf[graft.functions.WindowHashes].getName,
        "window_hashes"),
      exact("window_hashes", 2)(c => c(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(w: Int,
            org.apache.spark.sql.types.IntegerType) =>
          graft.functions.WindowHashes(c(0), w)
        case other => throw userError(
          s"window_hashes width must be an integer literal, got ${other.sql}")
      })))
    ext.injectFunction((
      new FunctionIdentifier("gopher_stats"),
      new ExpressionInfo(classOf[graft.functions.GopherStats].getName,
        "gopher_stats"),
      exact("gopher_stats", 1)(c => graft.functions.GopherStats(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("marker_counts"),
      new ExpressionInfo(classOf[graft.functions.MarkerCounts].getName,
        "marker_counts"),
      exact("marker_counts", 2)(c => c(1) match {
        // the marker set is part of the scan program — a foldable STRING
        // array only (array(lit(...)) / typedLit), never a per-row column
        case e if e.foldable && (e.dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }) =>
          val a = e.eval()
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          if (a == null) throw userError(
            "marker_counts markers array must not be NULL")
          val markers = (0 until a.numElements()).map { i =>
            if (a.isNullAt(i)) throw userError(
              s"marker_counts markers must not contain NULL (element $i)")
            a.getUTF8String(i).toString
          }
          graft.functions.MarkerCounts(c(0), markers)
        case other => throw userError(
          s"marker_counts markers must be a literal array<string>, got " +
            s"${other.sql}: ${other.dataType.sql}")
      })))
    ext.injectFunction((
      new FunctionIdentifier("ascii_count"),
      new ExpressionInfo(classOf[graft.functions.AsciiCount].getName,
        "ascii_count"),
      exact("ascii_count", 2)(c => c(1) match {
        // the target char is part of the scan program — any FOLDABLE
        // single-ASCII-character string (a bare literal, chr(32), a cast
        // constant — ADVICE r15: raw-Literal-only rejected statically
        // known constants), evaluated once at resolution time. Multi-byte
        // targets stay rejected: they would need real UTF-8 decoding, the
        // cost this expression exists to delete.
        case e if e.foldable &&
            e.dataType == org.apache.spark.sql.types.StringType =>
          e.eval() match {
            case s: org.apache.spark.unsafe.types.UTF8String
                if s.numBytes == 1 && s.getByte(0) >= 0 =>
              graft.functions.AsciiCount(c(0), s.getByte(0))
            case _ => throw userError(
              "ascii_count target must fold to a single ASCII character, " +
                s"got ${e.sql}")
          }
        case other => throw userError(
          "ascii_count target must be a foldable single-ASCII-character " +
            s"string, got ${other.sql}: ${other.dataType.sql}")
      })))
    ext.injectFunction((
      new FunctionIdentifier("pii_scrub"),
      new ExpressionInfo(classOf[graft.functions.PiiScrub].getName,
        "pii_scrub"),
      exact("pii_scrub", 1)(c => graft.functions.PiiScrub(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("int8_quant_stats"),
      new ExpressionInfo(classOf[graft.functions.Int8QuantStats].getName,
        "int8_quant_stats"),
      exact("int8_quant_stats", 1)(c =>
        graft.functions.Int8QuantStats(c.head))))
  }
}
