package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** An RDD-backed copy of `df`: no scan stats, so its size estimate is
    * spark.sql.defaultSizeInBytes (Long.MaxValue) and every
    * [[graft.operators.SizeGate]] takes its past-broadcast fallback,
    * while the data stays suite-sized. */
  def pastGate(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)
}

object SparkSpec {
  /** The engine's own session, at suite size. */
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.build("graft-test", Some("local[4]"), 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
