package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.{AsOfJoinStrategy, GraftFunctions, TopKPerGroupRewrite, TopKPerGroupStrategy}

/** Session extensions: the native SQL functions, the top-k-per-group
  * optimizer rewrite (window `row_number() <= k` → bounded-heap
  * physical operator), and the planner strategies for the TopKPerGroup
  * and as-of join nodes. [[GraftSession]] puts them on every session
  * graft builds; `--conf spark.sql.extensions=graft.GraftExtensions`
  * does the same for sessions a cluster creates. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => TopKPerGroupRewrite)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
