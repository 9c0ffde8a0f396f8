package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import scala.util.Try

class GraftExtensionsSpec extends SparkSpec {

  test("q80 and q81 leave the session's extra optimizations and strategies as they found them") {
    val s = spark.newSession()
    val rules = s.experimental.extraOptimizations
    val strategies = s.experimental.extraStrategies
    for (q <- Seq("q80_ann_bruteforce", "q81_ann_lsh")) {
      assert(SparkEntry.queries(q)(s, sf0001).collect().nonEmpty, q)
      assert(s.experimental.extraOptimizations == rules, q)
      assert(s.experimental.extraStrategies == strategies, q)
    }
  }

  test("every kernel in the table resolves by name in a fresh session") {
    val fresh = spark.newSession()
    GraftFunctions.descriptions.foreach { case (ident, info, builder) =>
      val resolved = fresh.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(ident.funcName))
      assert(resolved.getClassName == info.getClassName, ident.funcName)
      // the entry's ExpressionInfo names the class its builder constructs
      val built = (1 to 3).iterator
        .flatMap(n => Try(builder(Seq.fill(n)(Literal(1)))).toOption).next()
      assert(built.getClass.getName == info.getClassName, ident.funcName)
    }
  }
}
