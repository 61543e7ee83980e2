package graft

import org.scalatest.funsuite.AnyFunSuite

/** One kernel per native expression, modelled on `CheckpointLintSpec`:
  * every expression in `org.apache.spark.sql.graft.VectorExprs` computes
  * in one typed Scala kernel that `nullSafeEval` and the generated code
  * both call, so the two paths cannot drift apart. `freshName(` names
  * the locals of a loop written as Java source in a `doGenCode` string,
  * the second copy this rules out; it occurs nowhere under the Spark
  * shim package.
  */
class CodegenLintSpec extends AnyFunSuite {

  test("no native expression writes its computation as generated Java " +
       "source") {
    SourceLint.check("freshName(", Map.empty,
      "generated-code loop(s)",
      "write the computation once as a typed Scala kernel on the " +
      "expression's companion; nullSafeEval calls it and doGenCode emits " +
      "one call to it (see VectorExprs).",
      dir = "src/main/scala/org/apache/spark/sql/graft")
  }
}
