package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  test("back-to-back calls are each credited exactly their own shuffle records") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try assert(SelfTest.run(spark) === Nil)
    finally spark.stop()
  }
}
