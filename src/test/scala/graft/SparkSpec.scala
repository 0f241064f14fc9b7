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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.configure(s)
  }
}
