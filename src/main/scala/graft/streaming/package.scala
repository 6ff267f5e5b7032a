package graft

import java.math.{BigDecimal => JBD, RoundingMode}
import java.sql.Timestamp

/** The numeric and time conversions the streaming twins share with
  * their batch kernels. */
package object streaming {

  /** Spark `round(x, 6)` twin: unsigned-BigDecimal HALF_UP. */
  private[streaming] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The batch signed-zero guard: map −0.0 to +0.0. */
  private[streaming] def z(x: Double): Double = if (x == 0.0) 0.0 else x

  /** double → DECIMAL(38,18): Spark casts through the SHORTEST decimal
    * repr of the double (`Double.toString`), then HALF_UP to scale 18 —
    * the engine-wide decimal-grid convention. */
  private[streaming] def dec18(x: Double): JBD =
    new JBD(java.lang.Double.toString(x)).setScale(18, RoundingMode.HALF_UP)

  // Event times fold in MICROSECONDS: the tables carry µs precision and
  // `Timestamp.getTime` alone (ms) would shear the fraction off every
  // boundary the batch twins compute exactly.
  private[streaming] def usOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private[streaming] def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
