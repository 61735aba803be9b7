package graft.core

import org.apache.spark.sql.SparkSession

/** Validated reads of graft's session conf knobs. A malformed value
  * fails with the OFFENDING KEY named instead of a bare
  * NumberFormatException mid-plan / mid-append (ADVICE r14). */
object Confs {

  /** Non-negative long conf with a default. */
  def longConf(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).map { raw =>
      val v =
        try raw.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a non-negative integer, got '$raw'")
        }
      require(v >= 0, s"$key must be a non-negative integer, got '$raw'")
      v
    }.getOrElse(dflt)

  /** Boolean conf (`true`/`false`, any case) with a default. */
  def boolConf(spark: SparkSession, key: String, dflt: Boolean): Boolean =
    spark.conf.getOption(key).map { raw =>
      raw.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException(s"$key must be true or false, got '$raw'")
      }
    }.getOrElse(dflt)

  /** Fraction conf in [0, 1] with a default. */
  def fractionConf(spark: SparkSession, key: String, dflt: Double): Double =
    spark.conf.getOption(key).map { raw =>
      val v =
        try raw.trim.toDouble
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a number in [0, 1], got '$raw'")
        }
      require(java.lang.Double.isFinite(v) && v >= 0 && v <= 1,
        s"$key must be a number in [0, 1], got '$raw'")
      v
    }.getOrElse(dflt)
}
