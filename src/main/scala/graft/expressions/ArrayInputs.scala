package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The input check of the unary vector kernels: the child must be
  * `array<float|double>`, and `isFloat` says which element getter the
  * kernel reads. */
trait VectorInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.accepts(child.dataType)) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName requires array<float|double> " +
      s"input, got ${child.dataType.sql}")

  protected lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

object VectorInput {

  /** Whether `t` is a vector column: `array<float|double>`. */
  def accepts(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _                                    => false
  }
}

/** The input check of the kernels over 60-bit token hashes: the child
  * must be `array<bigint>`. */
trait LongArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires array<bigint> input, got ${other.sql}")
    }
}
