package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  /** Formatted physical plan for plan-shape assertions. */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
