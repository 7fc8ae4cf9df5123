package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions with the SQL function registry, so pure-SQL users get them
  * too:
  *
  * {{{
  * // session config: spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT dot_product(a, b) FROM vectors")
  * }}}
  *
  * The Column API ([[DotProduct.dot]]) does not require the extension —
  * this is the SQL-surface registration only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // The short ExpressionInfo constructors are deprecated; the full-form
  // constructor with empty optional fields is the supported way to carry
  // a usage string into DESCRIBE FUNCTION.
  private def info(className: String, name: String, usage: String) =
    new ExpressionInfo(className, null, name, usage,
      "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Declarative-to-kernel rewrite: SQL users writing the natural
    // size(filter(array_contains)) form get the codegen'd CountInSet loop.
    ext.injectOptimizerRule(_ => KernelSubstitution)

    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      info(classOf[DotProduct].getName, "dot_product",
          "dot_product(a, b) - dot product of two array<double> columns"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          s"dot_product expects 2 arguments, got ${children.size}")
      }))

    ext.injectFunction((
      new FunctionIdentifier("hash_family60"),
      info(classOf[HashArray].getName, "hash_family60",
          "hash_family60(arr[, mask]) - per-element 60-bit md5 family hash " +
          "of an array<string>, optionally masked"),
      (children: Seq[Expression]) => children match {
        case Seq(a) => HashArray(a)
        // The isInstanceOf guard rejects NULL / non-numeric constants with
        // the function's own error message, not a bare NPE/CCE.
        case Seq(a, m) if m.foldable && m.eval().isInstanceOf[Number] =>
          HashArray(a, m.eval().asInstanceOf[Number].longValue())
        case _ => throw new IllegalArgumentException(
          "hash_family60 expects (array<string>[, constant long mask])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("simhash_vote"),
      info(classOf[SimhashVote].getName, "simhash_vote",
          "simhash_vote(hashes[, bits]) - majority-vote simhash of an " +
          "array<long> of element hashes"),
      (children: Seq[Expression]) => children match {
        case Seq(a) => SimhashVote(a)
        case Seq(a, b) if b.foldable && b.eval().isInstanceOf[Number] =>
          SimhashVote(a, b.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "simhash_vote expects (array<long>[, constant int bits])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("word_bigrams"),
      info(classOf[Bigrams].getName, "word_bigrams",
          "word_bigrams(toks) - consecutive 'w1 w2' bigrams of an " +
          "array<string>"),
      (children: Seq[Expression]) => children match {
        case Seq(a) => Bigrams(a)
        case _ => throw new IllegalArgumentException(
          "word_bigrams expects (array<string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("approx_top_items"),
      info(classOf[MisraGries].getName, "approx_top_items",
          "approx_top_items(col, k) - Misra-Gries heavy hitters: bounded " +
          "k-counter approximate top-k frequency aggregate"),
      (children: Seq[Expression]) => children match {
        case Seq(c, kExpr) if kExpr.foldable &&
            kExpr.eval().isInstanceOf[Number] =>
          MisraGries(c, kExpr.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "approx_top_items expects (string column, constant int k)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      info(classOf[CharNgrams].getName, "char_ngrams",
          "char_ngrams(str[, n]) - character n-grams (default trigrams) of " +
          "a string"),
      (children: Seq[Expression]) => children match {
        case Seq(a) => CharNgrams(a)
        case Seq(a, b) if b.foldable && b.eval().isInstanceOf[Number] =>
          CharNgrams(a, b.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "char_ngrams expects (string[, constant int n])")
      }))
  }
}
