package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, SimplifyCasts}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Spark's own predicate → data source `Filter` translation (it is
  * `protected[sql]`): the conjuncts of `df`'s filter condition with
  * constants folded and no-op casts removed (coercion wraps `k IN`'s
  * column in one), each as Spark pushes it to a scan, None if not. */
object FilterTranslation extends PredicateHelper {
  def conjuncts(df: DataFrame): Seq[Option[Filter]] =
    SimplifyCasts(ConstantFolding(df.queryExecution.analyzed))
      .collectFirst { case f: logical.Filter => f.condition }.toSeq
      .flatMap(splitConjunctivePredicates)
      .map(translate)

  /** One predicate as Spark pushes it to a scan, None if it does not
    * translate. */
  def translate(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, false)
}
