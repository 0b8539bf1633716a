package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator

/** The library's SQL functions, resolvable by name in `expr(...)` and
  * `spark.sql` once [[register]] has run on the session.
  * `graft.SparkEntry.queries` runs it before every key, so no key
  * prepares the session itself.
  */
object SqlFunctions {
  private val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_f32", classOf[DotF32], c => DotF32(c(0), c(1))),
    ("dot_f32f64", classOf[DotF32F64], c => DotF32F64(c(0), c(1))),
    ("sum_i128", classOf[Int128SumDouble], c => Int128SumDouble(c(0))),
    ("mean_vec", classOf[ScalaAggregator[_, _, _]], c => ScalaAggregator(c, VectorAvg,
      ExpressionEncoder[Array[Float]](), VectorAvg.bufferEncoder, aggregatorName = Some("mean_vec"))))

  /** Registers each function the session's registry lacks. Idempotent:
    * a function already there is left as it is.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, cls, build) <- all) {
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
    }
  }
}
