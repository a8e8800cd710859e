package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

package object plans {

  /** Runtime strategy injection: works on any session (the driver's
    * vanilla smoke session included); sessions built with
    * [[graft.GraftExtensions]] already have the strategy. Idempotent,
    * and safe when several threads build plans on one session. */
  private[plans] def inject(spark: SparkSession, strategy: SparkStrategy): Unit =
    spark.synchronized {
      if (!spark.experimental.extraStrategies.contains(strategy))
        spark.experimental.extraStrategies =
          strategy +: spark.experimental.extraStrategies
    }
}
