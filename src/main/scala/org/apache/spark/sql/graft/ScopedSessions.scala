package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** The two session-private constructors graft's conf scopes need. */
object ScopedSessions {

  /** A session with its own copy of `spark`'s conf that shares its cache
    * manager, catalog and execution listeners.
    */
  def cloneOf(spark: SparkSession): SparkSession = castToImpl(spark).cloneSession()

  /** `df`'s logical plan as a frame of `session`, planned under its confs. */
  def bind(df: DataFrame, session: SparkSession): DataFrame =
    if (df.sparkSession eq session) df
    else Dataset.ofRows(castToImpl(session), castToImpl(df).logicalPlan)
}
