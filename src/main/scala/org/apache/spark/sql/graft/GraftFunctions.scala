package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL names of the native expressions, so
  * `spark.sql("SELECT float_vec_dot(a, b) ...")` works alongside the
  * Column API. [[graft.GraftExtensions]] injects them into every
  * session it builds. */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[FloatVecDot].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_vec_dot"),
      info("float_vec_dot", "float_vec_dot(a, b) - dot product of two float arrays in double precision"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))),
    (FunctionIdentifier("float_vec_norm"),
      info("float_vec_norm", "float_vec_norm(a) - L2 norm of a float array in double precision"),
      (es: Seq[Expression]) => FloatVecNorm(es.head)),
    (FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(text, n) - space-joined word n-grams; empty array when fewer than n tokens"),
      (es: Seq[Expression]) => WordNgrams(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "minhash_bands(shingles, nPerms, nBands) - LSH band hashes of the perm-seeded md5 minhash signature"),
      (es: Seq[Expression]) => MinHashBands(es.head,
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("md5_min"),
      info("md5_min", "md5_min(arr) - lexicographically smallest md5 hex over array elements; null on empty"),
      (es: Seq[Expression]) => Md5Min(es.head)),
    (FunctionIdentifier("oph_slots"),
      info("oph_slots", "oph_slots(shingles, nSlots) - one-permutation minhash slot minima (one md5 per shingle, last-nibble binning); empty bins null"),
      (es: Seq[Expression]) => OphSlots(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(text) - 60-bit SimHash over whitespace tokens; null on zero tokens"),
      (es: Seq[Expression]) => SimHash60(es.head)),
    (FunctionIdentifier("log2_fixed"),
      info("log2_fixed", "log2_fixed(x) - fixed-point log2 at scale 2^20 (m*2^20 + 20 binary fraction digits); null outside 1 <= x < 2^43"),
      (es: Seq[Expression]) => Log2Fixed(es.head)))
}
