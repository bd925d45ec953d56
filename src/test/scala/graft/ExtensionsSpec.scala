package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftExtensions

/** GraftExtensions registers fnv1a64 into a FunctionRegistry (the same hook
  * spark-submit exercises via --conf spark.sql.extensions).
  */
class ExtensionsSpec extends SparkSpecBase {
  test("extensions inject fnv1a64 into the session function registry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftTestBridge.registerInjectedFunctions(ext, spark)
    spark.sql("SELECT fnv1a64('foobar') AS h").head.getLong(0) shouldBe
      java.lang.Long.parseUnsignedLong("85944171f73967e8", 16)
  }
}
