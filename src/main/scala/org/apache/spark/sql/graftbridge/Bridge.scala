package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ⇄ Column bridge. Spark 4 routes Column construction through
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`; this shim (inside the sql package tree, the standard
  * pattern for Spark extension libraries) re-exports the two conversions
  * graft's custom Catalyst expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable unique id of a session (`private[sql]` in Spark 4) — a
    * memo key that, unlike `System.identityHashCode`, can never alias a
    * new session to a dead one's entries after GC.
    */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): Option[String] =
    s match {
      case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
      case _ => None
    }

  /** Drain the listener bus (`private[spark]`) so a measurement that
    * reads listener-accumulated totals sees every completed stage.
    */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A new directory under `java.io.tmpdir`, deleted at JVM exit
    * (`Utils.createTempDir` registers it with Spark's shutdown hook).
    */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath

  def deleteRecursively(path: String): Unit =
    org.apache.spark.util.Utils.deleteRecursively(new java.io.File(path))

  /** Delete a catalog table's directory at JVM exit, as [[tempDir]]. */
  def deleteTableAtExit(s: org.apache.spark.sql.SparkSession,
                        table: String): Unit = s match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(
        new java.io.File(c.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location))
    case _ => ()
  }
}
