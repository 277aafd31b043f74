package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One minute bar; prices are integer cents so every text rendering parses
  * back to exactly the double the generator reasons about.
  */
final case class Tick(ts: LocalDateTime, symbol: String, open: Long, high: Long, low: Long,
    close: Long, volume: Long) {
  def micros: Long = ts.toEpochSecond(ZoneOffset.UTC) * 1000000L
}

/** OHLCV of a set of ticks, in the units the engine reports. */
final case class Candle(open: Double, high: Double, low: Double, close: Double, volume: Long)

/** Seeded input generator shared by the workloads. */
object Gen {
  val Symbols: Seq[String] = Seq("AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "META", "TSLA", "NFLX")
  val SessionMinutes = 390
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def price(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"
  def dollars(cents: Long): Double = price(cents).toDouble
  def fmt(ts: LocalDateTime): String = ts.format(tsFmt)

  /** One trading session of minute bars for every symbol. Symbol i trades at
    * second i of each minute, so every tick time is distinct.
    */
  def day(seed: Long, dayIndex: Int, symbols: Seq[String] = Symbols): Seq[Tick] = {
    val date = FirstDay.plusDays(dayIndex.toLong)
    symbols.zipWithIndex.flatMap { case (sym, i) =>
      val r = new java.util.SplittableRandom(seed * 1000003L + dayIndex * 131L + i)
      var last = 5000L + r.nextLong(50000L)
      (0 until SessionMinutes).map { m =>
        val open = last
        val close = math.max(100L, open + r.nextLong(-40L, 41L))
        val high = math.max(open, close) + r.nextLong(0L, 25L)
        val low = math.max(50L, math.min(open, close) - r.nextLong(0L, 25L))
        last = close
        Tick(date.atTime(9, 30).plusMinutes(m.toLong).plusSeconds(i.toLong), sym, open, high, low,
          close, 100L + r.nextLong(10000L))
      }
    }
  }

  def candle(ticks: Seq[Tick]): Candle = {
    val first = ticks.minBy(_.micros)
    val last = ticks.maxBy(_.micros)
    Candle(dollars(first.open), dollars(ticks.map(_.high).max), dollars(ticks.map(_.low).min),
      dollars(last.close), ticks.map(_.volume).sum)
  }

  def csv(ticks: Seq[Tick]): String = {
    val sb = new StringBuilder("timestamp,symbol,open,high,low,close,volume\n")
    ticks.foreach { t =>
      sb.append(fmt(t.ts)).append(',').append(t.symbol).append(',').append(price(t.open)).append(',')
        .append(price(t.high)).append(',').append(price(t.low)).append(',').append(price(t.close))
        .append(',').append(t.volume).append('\n')
    }
    sb.toString
  }

  /** Alpha Vantage `TIME_SERIES_DAILY` payload over the given daily candles. */
  def alphaVantageDaily(symbol: String, days: Seq[(LocalDate, Candle)]): String = {
    val series = days.map { case (d, c) =>
      s""""$d": {"1. open": "${c.open}", "2. high": "${c.high}", "3. low": "${c.low}", "4. close": "${c.close}", "5. volume": "${c.volume}"}"""
    }.mkString(", ")
    s"""{"Meta Data": {"1. Information": "Daily Prices", "2. Symbol": "$symbol"}, "Time Series (Daily)": {$series}}"""
  }
}
