package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** Test-only access to the `protected[sql]` Catalyst → data-source
  * filter translation: lets a spec ask which post-scan predicates a
  * source was offered in translated form.
  */
object GraftFilterAccess {
  def translate(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
