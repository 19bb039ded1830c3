package perfbench

import java.util.SplittableRandom

/** Seeded generator of the consumer's wire frames (JSON lines, FIXTURES.md
  * section A): the four message types plus every drop variant at fixed
  * shares, with the rows the consumer must land per table and quarantine
  * per reason.
  */
object Frames {
  /** Expected outcome of consuming some frames. */
  final case class Expect(frames: Long, landed: Map[String, Long], quarantined: Map[String, Long]) {
    def +(o: Expect): Expect = Expect(frames + o.frames,
      Frames.merge(landed, o.landed), Frames.merge(quarantined, o.quarantined))
    def keptFrac: Double = landed.values.sum.toDouble / math.max(1L, frames)
  }
  val Empty: Expect = Expect(0, Map.empty, Map.empty)

  private def merge(a: Map[String, Long], b: Map[String, Long]) =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  val Tables: Seq[String] = Seq("candles", "trades", "order_book", "companies")
  val Reasons: Seq[String] = Seq("unknown_type", "missing_required", "bad_timestamp")

  /** Cumulative shares per 1000 frames. Duplicates repeat the previous valid
    * frame and are kept (at-least-once, as in the reference consumer).
    */
  private val Mix: Seq[(String, Int)] = Seq(
    "trades" -> 400, "candles" -> 700, "order_book" -> 940, "companies" -> 950,
    "missing" -> 960, "malformed" -> 970, "bad_ts" -> 980, "unknown" -> 990,
    "duplicate" -> 1000)

  private def price(r: SplittableRandom): String = {
    val c = r.nextInt(1000, 500000)
    s"${c / 100}.${"%02d".format(c % 100)}"
  }

  private def ts(base: Long, r: SplittableRandom): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(base + r.nextInt(0, 86400), 0,
      java.time.ZoneOffset.UTC)
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** One file of `n` frames. Deterministic in (seed, fileNo). */
  def file(seed: Long, fileNo: Int, n: Int): (String, Expect) = {
    val r = new SplittableRandom(seed * 1000003L + fileNo)
    val base = 1709251200L + fileNo * 3600L // 2024-03-01 onward, one hour per file
    val sb = new StringBuilder
    val landed = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val quar = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var last: Option[(String, String)] = None
    def fig = "FIGI" + r.nextInt(0, 50)
    def valid(t: String): String = t match {
      case "trades" =>
        s"""{"company_id":"$fig","timestamp":"${ts(base, r)}","price":${price(r)},"volume":${r.nextInt(1, 1000)},"side":"${if (r.nextBoolean()) "buy" else "sell"}"}"""
      case "candles" =>
        val o = price(r)
        s"""{"company_id":"$fig","timestamp":"${ts(base, r)}","open":$o,"high":${price(r)},"low":${price(r)},"close":${price(r)},"volume":${r.nextInt(1, 100000)}}"""
      case "order_book" =>
        s"""{"company_id":"$fig","timestamp":"${ts(base, r)}","bid_price":${price(r)},"bid_volume":${r.nextInt(1, 5000)},"ask_price":${price(r)},"ask_volume":${r.nextInt(1, 5000)}}"""
      case "companies" =>
        val i = r.nextInt(0, 50)
        s"""{"company_id":"FIGI$i","name":"Company $i","ticker":"T$i","sector":"sector${i % 7}"}"""
    }
    var i = 0
    while (i < n) {
      val u = r.nextInt(0, 1000)
      val kind = Mix.find(u < _._2).get._1
      val line = kind match {
        case t if Tables.contains(t) =>
          val l = valid(t); landed(t) += 1; last = Some(t -> l); l
        case "missing" => // candle without `close`: required-field gate
          quar("missing_required") += 1
          s"""{"company_id":"$fig","timestamp":"${ts(base, r)}","open":${price(r)},"high":${price(r)},"low":${price(r)},"volume":${r.nextInt(1, 100)}}"""
        case "malformed" => // truncated JSON: routes as unknown
          quar("unknown_type") += 1
          s"""{"company_id":"$fig","open":${price(r)},"""
        case "bad_ts" =>
          quar("bad_timestamp") += 1
          s"""{"company_id":"$fig","timestamp":"01/03/2024 10am","open":${price(r)},"high":${price(r)},"low":${price(r)},"close":${price(r)},"volume":${r.nextInt(1, 100)}}"""
        case "unknown" =>
          quar("unknown_type") += 1
          s"""{"foo":${r.nextInt(0, 100)},"bar":"baz"}"""
        case "duplicate" =>
          last match {
            case Some((t, l)) => landed(t) += 1; l
            case None =>
              val l = valid("trades"); landed("trades") += 1; last = Some("trades" -> l); l
          }
      }
      sb ++= line
      sb += '\n'
      i += 1
    }
    (sb.toString, Expect(n, landed.toMap, quar.toMap))
  }
}
