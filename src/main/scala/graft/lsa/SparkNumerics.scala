package graft.lsa

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** Spark's double→decimal cast and double `ROUND`, exactly — the one
  * numerics kernel every driver-local solver twin (PowerCore, PowerLsa's
  * secondLocal, PowerLocalLsa, Hits, Nmf, Lloyd) and every 6dp/4dp
  * rounding helper calls, so a twin walks its distributed route's bit
  * sequence by construction instead of by a hand-copied `setScale`.
  *
  * Both start from the SHORTEST decimal that round-trips the double
  * (`Double.toString`, what Spark's `Decimal(d)` and `Round` read) and
  * round it HALF_UP at `scale` fractional digits:
  *
  * {{{
  * input                 dec(x, p, s)                     round(x, s)
  *                       = CAST(x AS DECIMAL(p,s))        = ROUND(x, s)
  * --------------------  -------------------------------  -------------
  * finite, fits (p,s)    the rounded decimal              its double
  * -0.0                  0                                0.0
  * NaN, +Inf, -Inf       null (ANSI on or off)            x unchanged
  * rounded value needs   ANSI on:  throws                 no bound: the
  *   more than p digits    NUMERIC_VALUE_OUT_OF_RANGE       rounded double
  *                       ANSI off: null
  * }}}
  *
  * "ANSI" is Spark's own `spark.sql.ansi.enabled` (on by default in
  * Spark 4), read from the active session's conf on the driver and from
  * the task's conf inside `flatMapGroups` — only on the overflow branch,
  * so the hot path never touches it. `sum` over a DECIMAL column skips
  * nulls and is null when every term is; [[plus]] is that accumulate.
  * SparkNumericsSpec pins both functions against Spark's own CAST and
  * ROUND on a DataFrame column, with ANSI on and off.
  */
object SparkNumerics {

  /** `CAST(x AS DECIMAL(precision, scale))` — see the table above. */
  def dec(x: Double, precision: Int, scale: Int): JBig = {
    if (x.isNaN || x.isInfinite) return null
    val d = JBig.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
    if (d.precision <= precision) d
    else if (!SQLConf.get.ansiEnabled) null
    else throw ColumnBridge.decimalOutOfRange(JBig.valueOf(x), precision, scale)
  }

  /** The exact-decimal running sum `acc + d` with `sum`'s null rules: a
    * null term is skipped, and a null `acc` means no non-null term yet.
    */
  def plus(acc: JBig, d: JBig): JBig =
    if (d == null) acc else if (acc == null) d else acc.add(d)

  /** `ROUND(x, scale)` on a double — see the table above. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBig.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue
}
