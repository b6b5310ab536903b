package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so plain `spark.sql` can call
  * `cosine_similarity(vec, other)` and `sorted_intersect_size(a, b)`.
  *
  * Enable with the conf `spark.sql.extensions` =
  * `org.apache.spark.sql.graftx.GraftExtensions`, or with
  * `.withExtensions(new GraftExtensions)` on a session builder (as
  * [[graft.Harness.session]] does).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_similarity takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect_size takes exactly 2 arguments")
        SortedIntersectSize(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_at_least"),
      new ExpressionInfo(classOf[SortedIntersectAtLeast].getName, "sorted_intersect_at_least"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "sorted_intersect_at_least takes exactly 3 arguments")
        SortedIntersectAtLeast(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler takes exactly 2 arguments")
        JaroWinklerSim(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc_normalize takes exactly 1 argument")
        NfcNormalize(children.head)
      }))
  }
}
