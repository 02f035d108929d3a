package graft.pipeline

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Python-compatible float rendering, for row-for-row CSV/summary parity
  * with the reference's f-string writers
  * (analyse_polygons.py:148-173; formats pinned by
  * tests/test_bulk_recombine.py:41-66).
  *
  * Java's Double.toString already emits the shortest round-trip digits
  * (same digits CPython repr produces); only the surface formatting
  * differs (exponent thresholds, 'E' vs 'e', zero padding) — this
  * re-renders Java's digits under CPython's rules. */
object PyFormat {

  /** CPython repr(float) / str(float). */
  def repr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val s = java.lang.Double.toString(math.abs(d)) // digits are shortest-roundtrip
    // java format: "ddd.ddd" or "d.dddExx"
    val (mantissa, exp10) = s.indexOf('E') match {
      case -1 => (s, 0)
      case i => (s.substring(0, i), s.substring(i + 1).toInt)
    }
    val dot = mantissa.indexOf('.')
    val digitsRaw = (mantissa.substring(0, dot) + mantissa.substring(dot + 1))
    val intLen = dot
    // normalized: value = 0.digits * 10^(intLen + exp10) with leading zeros stripped
    var digits = digitsRaw
    var pointPos = intLen + exp10 // position of decimal point within digits
    val lead = digits.takeWhile(_ == '0').length
    digits = digits.drop(lead)
    pointPos -= lead
    digits = digits.reverse.dropWhile(_ == '0').reverse
    if (digits.isEmpty) { digits = "0"; pointPos = 1 }
    // CPython: scientific if exponent < -4 or >= 16 (exp = pointPos - 1)
    val sciExp = pointPos - 1
    val body =
      if (sciExp < -4 || sciExp >= 16) {
        val m =
          if (digits.length == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        val eSign = if (sciExp < 0) "-" else "+"
        f"${m}e$eSign${math.abs(sciExp)}%02d"
      } else if (pointPos <= 0) {
        "0." + ("0" * (-pointPos)) + digits
      } else if (pointPos >= digits.length) {
        digits + ("0" * (pointPos - digits.length)) + ".0"
      } else {
        digits.substring(0, pointPos) + "." + digits.substring(pointPos)
      }
    if (neg) "-" + body else body
  }

  /** CPython '{:,.2f}' — fixed 2 decimals, banker's rounding, comma groups. */
  def commaFixed2(d: Double): String = fixedGrouped(d, 2)

  /** CPython '{:.1f}'. */
  def fixed1(d: Double): String = fixed(d, 1)

  /** CPython '{:.<places>f}', also for nan, inf and -inf (a summary's 0/0). */
  def fixed(d: Double, places: Int): String =
    if (!java.lang.Double.isFinite(d)) repr(d)
    else new JBigDecimal(d).setScale(places, RoundingMode.HALF_EVEN).toPlainString

  def fixedGrouped(d: Double, places: Int): String = {
    val plain = fixed(math.abs(d), places)
    val (intPart, fracPart) = plain.splitAt(plain.indexOf('.'))
    val grouped = intPart.reverse.grouped(3).mkString(",").reverse
    (if (d < 0 && !(grouped == "0" && fracPart.drop(1).forall(_ == '0'))) "-" else "") +
      grouped + fracPart
  }
}
