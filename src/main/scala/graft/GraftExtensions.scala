package graft

import graft.functions.{FloatVecDot, LongVecSqDist, MinHashMd5, MultiPatternCounts, ShingleSet, SigMatchCount, SimHash64, TextMinHashMd5, TopKSketchAgg, UnicodeNormalize, WinnowFingerprints}
import graft.plans.BoundedSort
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

/** graft's session extensions. They install one physical rule,
  * [[graft.plans.BoundedSort]] (a bounded result's root sort runs on one
  * partition, without the range exchange's sampling job), as an AQE
  * query-stage preparation rule, and the SQL surface for graft's custom
  * Catalyst expressions: they register
  * `simhash64(array<string>)`, `vec_dot(array<float>, array<float>)`,
  * `vec_sqdist(array<bigint>, array<bigint>)`,
  * `sig_match_count(array<string>, array<string>)`,
  * `winnow_fingerprints(string[, k, w])`,
  * `text_minhash_md5(string, salt[, k])`, `shingle_set(string[, k])`,
  * `minhash_md5(array<string>, salt)`,
  * `multi_pattern_counts(string, 'p1,p2,…')` and the
  * `topk_sketch(string, capacity)` aggregate in the function registry,
  * so `spark.sql` queries and downstream tools can call them. Every
  * [[GraftSession.local]] session installs it; a session built elsewhere
  * can take it via `withExtensions(new GraftExtensions)` on its builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectQueryStagePrepRule(_ => BoundedSort)
    GraftFunctions.descriptors.foreach(e.injectFunction)
  }
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(i: Int, _) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (children => SimHash64(children.head)),
    "vec_dot" -> (children => FloatVecDot(children(0), children(1))),
    "vec_sqdist" -> (children => LongVecSqDist(children(0), children(1))),
    "sig_match_count" -> (children => SigMatchCount(children(0), children(1))),
    "winnow_fingerprints" -> (children => WinnowFingerprints(children.head,
      k = if (children.length > 1) intArg(children(1), "winnow k") else 5,
      w = if (children.length > 2) intArg(children(2), "winnow w") else 4)),
    "text_minhash_md5" -> (children => TextMinHashMd5(children.head,
      salt = stringArg(children(1), "minhash salt"),
      k = if (children.length > 2) intArg(children(2), "minhash k") else 3)),
    "topk_sketch" -> (children => TopKSketchAgg(children.head,
      capacity = intArg(children(1), "topk_sketch capacity")).toAggregateExpression()),
    "shingle_set" -> (children => ShingleSet(children.head,
      k = if (children.length > 1) intArg(children(1), "shingle k") else 3)),
    "unicode_normalize" -> (children => UnicodeNormalize(children.head,
      form = if (children.length > 1) stringArg(children(1), "normalization form")
             else "NFC")),
    "minhash_md5" -> (children => {
      require(children.length == 2,
        s"minhash_md5(shingles, salt) takes exactly 2 arguments, got ${children.length}")
      MinHashMd5(children.head, salt = stringArg(children(1), "minhash salt"))
    }),
    // multi_pattern_counts(text, 'p1,p2,…'): SQL surface takes the
    // blocklist as ONE comma-separated literal (SQL has no list
    // literals in function args); commas therefore can't appear inside
    // a pattern via SQL — the Column API takes a real Seq and has no
    // such restriction
    "multi_pattern_counts" -> (children => {
      require(children.length == 2,
        s"multi_pattern_counts(text, patterns) takes exactly 2 arguments, got ${children.length}")
      MultiPatternCounts(children.head,
        stringArg(children(1), "pattern list").split(',').toSeq)
    }),
    // NearestCell is deliberately NOT SQL-registered: its centroid matrix
    // is a referenced object (the whole point of its O(1) plan size), and
    // a SQL literal argument would reintroduce the k×dim expression nest
  )

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
    }
}
