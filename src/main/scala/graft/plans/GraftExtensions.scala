package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extensions, registered via the public
  * `SparkSessionExtensions` hook
  * (`.config("spark.sql.extensions", "graft.plans.GraftExtensions")`)
  * or post-hoc with [[GraftExtensions.register]] for sessions the
  * engine does not construct.
  *
  * Surface: `graft_asof(leftTs, rightTs)`, a join-condition marker
  * planned by [[AsOfJoinStrategy]] into the native sort-merge
  * [[AsOfJoinExec]]; usable from SQL:
  * `a JOIN b ON a.k = b.k AND graft_asof(a.ts, b.ts)`. The native
  * kernels in `graft.functions` are built as typed `Column`s through
  * their companions and need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.asofFunction)
    ext.injectPlannerStrategy(AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private val asofFunction = (
    new FunctionIdentifier("graft_asof"),
    new ExpressionInfo(classOf[AsOfMarker].getName, "graft_asof"),
    (children: Seq[Expression]) => AsOfMarker(children(0), children(1)))

  /** Idempotent in-session registration — lets library entry points
    * guarantee the marker and the as-of planner strategy exist
    * regardless of how the session was built (`extraStrategies` is the
    * public post-construction planner hook).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      asofFunction._1, asofFunction._2, asofFunction._3)
    val es = spark.experimental.extraStrategies
    if (!es.exists(_.isInstanceOf[AsOfJoinStrategy]))
      spark.experimental.extraStrategies = es :+ AsOfJoinStrategy(spark)
  }
}
