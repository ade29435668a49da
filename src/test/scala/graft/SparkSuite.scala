package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session(cores = 4)
}
