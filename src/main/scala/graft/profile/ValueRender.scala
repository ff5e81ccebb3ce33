package graft.profile

import java.math.{BigDecimal, MathContext}

/** Calcite-`SqlFunctions`-style value rendering used for length statistics
  * (reference: org/apache/flink/stats/CastUtils.java:9-45 and
  * org/apache/flink/stats/StatsPojo.java:403-433). The quirks are
  * deliberate parity: 0 renders as "0E0", NaN renders as "", trailing
  * zeros stripped in scientific notation, BigDecimal leading "0." loses
  * its zero. Deviation: ±Infinity renders as Java's "Infinity" /
  * "-Infinity", where the reference's render throws.
  */
object ValueRender {

  /** reference: CastUtils.java:9-20 */
  def bigDecimalAsStr(x: BigDecimal): String = {
    val s = x.toString
    if (s.startsWith("0")) s.substring(1)
    else if (s.startsWith("-0")) "-" + s.substring(2)
    else s
  }

  /** reference: CastUtils.java:22-32 (DECIMAL32 context) */
  def floatAsStr(f: Float): String = {
    if (f.isNaN) ""
    else if (f.isInfinite) f.toString
    else if (f == 0f) "0E0"
    else {
      val bd = new BigDecimal(f.toDouble, MathContext.DECIMAL32).stripTrailingZeros()
      bd.toString.replaceAll("0*E", "E").replace("E+", "E")
    }
  }

  /** reference: CastUtils.java:34-45 (DECIMAL64 context) */
  def doubleAsStr(d: Double): String = {
    if (d.isNaN) ""
    else if (d.isInfinite) d.toString
    else if (d == 0d) "0E0"
    else {
      val bd = new BigDecimal(d, MathContext.DECIMAL64).stripTrailingZeros()
      bd.toString.replaceAll("0*E", "E").replace("E+", "E")
    }
  }
}
