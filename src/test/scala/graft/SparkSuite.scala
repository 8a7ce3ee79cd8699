package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
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
  type Rules = (Seq[SparkStrategy], Seq[Rule[LogicalPlan]])

  private lazy val built: (SparkSession, Rules) = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("WARN")
    (s, runtimeRules(s))
  }

  lazy val session: SparkSession = built._1

  /** [[session]]'s runtime rules as `GraftSession` returned it. */
  def rulesAtBuild: Rules = built._2

  /** `s`'s runtime planner strategies and optimizer rules. */
  def runtimeRules(s: SparkSession): Rules = {
    val x = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    (x.extraStrategies, x.extraOptimizations)
  }

  /** A session of its own, built by `GraftSession` on the suite's Spark
    * context; [[session]] stays the default and active session. */
  def freshSession(): SparkSession = {
    val shared = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try GraftSession(4)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
