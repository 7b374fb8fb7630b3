package graft.functions

import org.apache.spark.sql.catalyst.expressions.{
  Abs, And, CaseWhen, Cast, Divide, EqualTo, Expression, LessThan, Literal,
  Multiply, Rint, RuntimeReplaceable, UnscaledValue}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The cents of a money value: the unscaled value of
  * `cast(child as decimal(18,2))`, as a long, for
  * [[graft.operators.ReferenceQueries.moneySum]].
  *
  * A double that is already a whole number of cents skips the decimal.
  * With `r = rint(100·x)`, when `|x| < 2^40` and `r / 100 == x` the cents
  * are `r`: the cast rounds `Double.toString(x)` HALF_UP to two decimals,
  * that string lies within `ulp(x) / 2` of `x`, `x` within `ulp(x) / 2`
  * of `r / 100` (the division is correctly rounded), and below 2^40
  * `ulp(x) <= 2^-13`, far inside the half cent that would change the
  * rounding. Every other value (NaN, ±Inf, an off-cent value such as
  * 0.145, a larger one) and every other input type takes the cast.
  */
case class MoneyCents(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = {
    val cents = UnscaledValue(
      Cast(child, DecimalType(18, 2), Some(SQLConf.get.sessionLocalTimeZone)))
    child.dataType match {
      case DoubleType =>
        val r = Rint(Multiply(child, Literal(100.0)))
        val exact = And(
          LessThan(Abs(child), Literal(math.pow(2, 40))),
          EqualTo(Divide(r, Literal(100.0)), child))
        CaseWhen(Seq(exact -> Cast(r, LongType)), cents)
      case _ => cents
    }
  }

  override protected def withNewChildInternal(newChild: Expression): MoneyCents =
    copy(child = newChild)
}
