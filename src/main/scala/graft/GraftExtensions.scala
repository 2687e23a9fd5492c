package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{MinHashSig, PythonRound}

/** SparkSessionExtensions registration for the engine's custom
  * Catalyst expressions, making them available from SQL:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   spark.sql("SELECT py_round(x, 3), minhash_sig(hashes, 64, 42)")
  *
  * No custom optimizer Rule is injected — SURVEY §4: every rewrite the
  * reference relies on is index selection inside MongoDB, which Spark
  * replaces with layout (TableLayout) + Catalyst's own pushdown/pruning.
  * The engine's one SparkStrategy, `GroupedTopKStrategy`, is not
  * installed here: `PlanBridge.groupedTopK` appends it to the session's
  * `experimental.extraStrategies` on first use, since it only plans the
  * `GroupedTopK` node that method builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}

/** Function builders, usable both through extensions (new sessions)
  * and via [[GraftExtensions.register]] on an existing session
  * (extensions are silently ignored by getOrCreate when a context is
  * already live).
  */
object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("py_round"),
      new ExpressionInfo(classOf[graft.functions.PythonRound].getName, "py_round"),
      (args: Seq[Expression]) =>
        // SQL numeric literals may arrive as DECIMAL — normalize to
        // double at the analyzer boundary.
        graft.functions.PythonRound(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.DoubleType),
          intArg(args(1), "scale"))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        val k = intArg(args(1), "numHashes")
        val seed = if (args.length > 2) longArg(args(2), "seed") else 42L
        val rng = new scala.util.Random(seed)
        val coeffs = Seq.fill(k)((rng.nextInt(Int.MaxValue).toLong + 1L,
          rng.nextInt(Int.MaxValue).toLong))
        MinHashSig(args.head, coeffs.map(_._1).toArray, coeffs.map(_._2).toArray)
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"simhash64(text) takes 1 argument, got ${args.length}")
        // normalize at the analyzer boundary like py_round does — a
        // non-string input otherwise dies at runtime with a cast error
        graft.functions.SimHash64(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.StringType))
      }),
    (FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[graft.functions.SimHashBits].getName, "simhash_bits"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"simhash_bits(token_hashes, bits) takes 2 arguments, got ${args.length}")
        graft.functions.SimHashBits(args.head, intArg(args(1), "bits"))
      }),
    (FunctionIdentifier("html_unescape"),
      new ExpressionInfo(classOf[graft.functions.HtmlUnescape].getName, "html_unescape"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"html_unescape(text) takes 1 argument, got ${args.length}")
        graft.functions.HtmlUnescape(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.StringType))
      }),
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[graft.functions.ArrayDot].getName, "array_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"array_dot(a, b) takes 2 arguments, got ${args.length}")
        graft.functions.ArrayDot(args.head, args(1))
      }),
    (FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[graft.functions.BpeCount].getName, "bpe_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"bpe_count(text) takes 1 argument, got ${args.length}")
        // SQL surface uses the default merges table; custom tables go
        // through the Column API (they are data, not literals).
        // No Cast wrap: the expression's checkInputDataTypes rejects
        // non-string inputs with a typed AnalysisException instead of
        // silently tokenizing a string rendering.
        graft.functions.BpeCount(args.head,
          graft.operators.TextAnalysis.defaultBpeMerges)
      }),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[graft.functions.ShingleHashes].getName,
        "shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"shingle_hashes(text, n) takes 2 arguments, got ${args.length}")
        // strict: checkInputDataTypes rejects non-string inputs
        graft.functions.ShingleHashes(args.head, intArg(args(1), "n"))
      }),
    (FunctionIdentifier("array_eq_count"),
      new ExpressionInfo(classOf[graft.functions.ArrayEqCount].getName,
        "array_eq_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"array_eq_count(a, b) takes 2 arguments, got ${args.length}")
        graft.functions.ArrayEqCount(args.head, args(1))
      }),
    (FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[graft.functions.BpeTokens].getName, "bpe_tokens"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"bpe_tokens(text) takes 1 argument, got ${args.length}")
        // strict: checkInputDataTypes rejects non-string inputs
        graft.functions.BpeTokens(args.head,
          graft.operators.TextAnalysis.defaultBpeMerges)
      }))

  /** Register on an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerFunction(spark, id, info, builder)
    }
}
