package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Lower, Md5, RegExpReplace, StringTrim, Substring}
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.expressions._

/** SparkSessionExtensions entry point: registers the native distance
  * expressions as SQL functions, so `spark.sql("SELECT graft_cosine_sim
  * (a, b) …")` and `expr("graft_dot(a, b)")` work next to the Column API.
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or `--conf spark.sql.extensions=graft.GraftExtensions` on spark-submit.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    // the full 11-arg constructor (the 5-arg form is deprecated):
    // className, db, name, usage, arguments, examples, note, group, since,
    // deprecated, source
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "math_funcs", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // one builder per function, called only with exactly `arity` arguments;
    // any other count is an analysis error naming the function
    def reg(name: String, usage: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), { args =>
        if (args.length == arity) build(args)
        else throw new AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> name, "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString, "docroot" -> ""))
      }: Seq[Expression] => Expression))

    reg("graft_sqeuclidean", "squared euclidean distance of two array<double>", 2) {
      case Seq(a, b) => SqEuclideanDistance(a, b) }
    reg("graft_euclidean", "euclidean distance of two array<double>", 2) {
      case Seq(a, b) => EuclideanDistance(a, b) }
    reg("graft_dot", "dot product of two array<double>", 2) {
      case Seq(a, b) => DotProduct(a, b) }
    reg("graft_cosine_sim", "cosine similarity of two array<double>", 2) {
      case Seq(a, b) => CosineSimilarity(a, b) }

    // unary text/hash helpers, composed from built-in codegen'd
    // expressions — the SQL spellings of Hashing.hash60 and
    // TextOps.normalizeText (ArrayDistancesSpec's "GraftExtensions" tests
    // pin both equalities, so the two definitions can't drift)
    reg("graft_hash60", "first 60 bits of md5 as a non-negative BIGINT", 1) { case Seq(e) =>
      Cast(Conv(Substring(Md5(Cast(e, BinaryType)), Literal(1), Literal(15)),
        Literal(16), Literal(10)), LongType)
    }
    reg("graft_normalize", "lowercase, punctuation to spaces, collapsed whitespace", 1) { case Seq(e) =>
      StringTrim(RegExpReplace(
        RegExpReplace(Lower(e), Literal("[^\\p{L}\\p{N}\\s]"), Literal(" ")),
        Literal("\\s+"), Literal(" ")))
    }
  }
}
