package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Expression ↔ Column seam so graft's
  * native Catalyst expressions ([[graft.vector.HyperplaneBuckets]]) can be
  * used as ordinary Columns — the established pattern for Spark extension
  * libraries that ship custom codegen expressions without forcing every
  * session through SparkSessionExtensions function registration. Only this
  * one file lives under the org.apache.spark.sql namespace; keep it free of
  * logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge into the classic session's clone, which the streaming drain runs
  * on. */
object SessionBridge {
  /** A session sharing `s`'s SparkContext, cache and catalog, with a COPY
    * of its runtime conf, temp views and registered functions — unlike
    * `newSession()`, which starts from the static conf only. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
