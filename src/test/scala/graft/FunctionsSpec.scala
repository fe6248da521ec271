package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with SparkTestBase {
  test("registerAll is idempotent per session: no UDF is replaced") {
    val reg = spark.sessionState.functionRegistry
    Functions.registerAll(spark)
    val before = reg.lookupFunctionBuilder(FunctionIdentifier("canon_all"))
    Functions.registerAll(spark)
    new graft.frontier.Frontier(spark, graft.frontier.FrontierConfig(
      checkpointDir = Scratch.dir("fnreg").toString))
    assert(before.isDefined)
    assert(reg.lookupFunctionBuilder(FunctionIdentifier("canon_all")).get eq before.get)
  }

  test("registerAll registers into a session that lacks the functions") {
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("surt")))
    Functions.registerAll(fresh)
    val k = fresh.sql("SELECT surt('https://www.example.com/a?b=1&A=2')").head().getString(0)
    assert(k == "com,example)/a?a=2&b=1")
  }
}
