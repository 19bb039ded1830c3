package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprints: a row count plus the sum of a
  * per-row hash. Floating-point values are rounded to 6 decimals first, so
  * an ulp of summation-order noise does not change the fingerprint.
  */
object Check {
  final case class Print(rows: Long, hash: Long)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _: DecimalType => c.cast(StringType)
    case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => canon(x, et))
    case MapType(_, _, _) => to_json(c)
    case s: StructType =>
      struct(s.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** Run `df` through Bench's noop-write action, fingerprinting it in the
    * same job via an observed metric.
    */
  def noopWrite(df: DataFrame): Print = {
    val obs = Observation("perfbench_fp")
    val h = if (df.schema.isEmpty) lit(0L)
      else pmod(xxhash64(df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*),
        lit(2147483647L))
    df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    Print(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Client-side fingerprint of JDBC rows; same rounding rule. */
  def jdbcRows(rs: java.sql.ResultSet): Print = {
    val md = rs.getMetaData
    val n = md.getColumnCount
    var rows = 0L
    var h = 0L
    while (rs.next()) {
      val sb = new StringBuilder
      var i = 1
      while (i <= n) {
        val v = rs.getObject(i)
        sb ++= (v match {
          case null => "\u0000"
          case d: java.lang.Double => fmt(d.doubleValue)
          case f: java.lang.Float => fmt(f.doubleValue)
          case b: java.math.BigDecimal => b.toPlainString
          case other => other.toString
        })
        sb += '\u0001'
        i += 1
      }
      h += scala.util.hashing.MurmurHash3.stringHash(sb.toString) & 0xffffffffL
      rows += 1
    }
    Print(rows, h)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString
}
