package perfbench

import java.time.LocalDate
import graft.domain.QualityReport

/** Naive plain-Scala oracle over the generated readings: the fact rows,
  * quality counters, latest-per-city and OLS fit the pipeline and the
  * dashboard must produce, written as loops over the values with none of
  * the engine's code. Doubles compare to a relative tolerance of 1e-9,
  * since Spark sums in whatever order its partitions arrive. */
object Oracle {
  val Tol = 1e-9

  final case class Fact(date: LocalDate, city: String, tmax: Option[Double], tmin: Option[Double],
      tavg: Option[Double], energy: Option[Double])

  private def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)
  private def f(c: Double): Double = c * 9.0 / 5.0 + 32.0

  /** One city's dense daily rows over [start, end] (both inclusive). */
  def fact(r: RawZone.Readings, start: LocalDate, end: LocalDate): Seq[Fact] = {
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
    def temp(dt: String): Map[LocalDate, Double] =
      r.noaa.filter(_.datatype == dt).groupBy(_.date).map { case (d, rs) => d -> f(mean(rs.map(_.valueC)).get) }
    val tmax = temp("TMAX")
    val tmin = temp("TMIN")
    // impute each temperature with the city's mean over the window
    def impute(m: Map[LocalDate, Double]): LocalDate => Option[Double] = {
      val fill = mean(days.flatMap(m.get))
      d => m.get(d).orElse(fill)
    }
    val mx = impute(tmax)
    val mn = impute(tmin)
    val byDay = r.eia.groupBy(_.period.take(10))
    days.map { d =>
      // hourly -> daily sum; a day whose every value is malformed sums to 0.0
      val energy = byDay.get(d.toString).map(_.flatMap(e => parse(e.value)).sum)
      val a = mx(d)
      val b = mn(d)
      val avg = for (x <- a; y <- b) yield (x + y) / 2
      Fact(d, r.city.name, a, b, avg, energy)
    }
  }

  private def parse(v: String): Option[Double] =
    if (RawZone.Malformed.contains(v)) None else Some(v.toDouble)

  def quality(rows: Seq[Fact], today: LocalDate, tempMaxF: Double, tempMinF: Double): QualityReport = {
    val latest = rows.map(_.date).maxOption
    QualityReport(
      row_count = rows.size.toLong,
      null_counts = Map(
        "date" -> 0L, "city" -> 0L,
        "temp_max_f" -> rows.count(_.tmax.isEmpty).toLong,
        "temp_min_f" -> rows.count(_.tmin.isEmpty).toLong,
        "temp_avg_f" -> rows.count(_.tavg.isEmpty).toLong,
        "energy_demand_gwh" -> rows.count(_.energy.isEmpty).toLong),
      temp_outliers_count =
        rows.count(r => r.tmax.exists(_ > tempMaxF) || r.tmin.exists(_ < tempMinF)).toLong,
      negative_energy_count = rows.count(_.energy.exists(_ < 0)).toLong,
      latest_data_date = latest.map(_.toString).getOrElse(""),
      days_since_latest_data = latest.map(d => (today.toEpochDay - d.toEpochDay).toInt).getOrElse(0),
      weather_only = rows.forall(_.energy.isEmpty))
  }

  /** Per city: (latest date, energy, previous day's energy or 0, pct change). */
  def latest(rows: Seq[Fact]): Map[String, (LocalDate, Option[Double], Double, Option[Double])] =
    rows.groupBy(_.city).map { case (city, rs) =>
      val sorted = rs.sortBy(_.date.toEpochDay)
      val last = sorted.last
      val prev = if (sorted.size > 1) sorted(sorted.size - 2).energy.getOrElse(0.0) else 0.0
      val pct = if (prev > 0) last.energy.map(e => (e - prev) / prev * 100) else Some(0.0)
      city -> (last.date, last.energy, prev, pct)
    }

  /** Least-squares (slope, intercept) of energy on temp_avg_f. */
  def ols(rows: Seq[Fact]): (Double, Double) = {
    val pts = rows.flatMap(r => for (x <- r.tavg; y <- r.energy) yield (x, y))
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val slope = sxy / sxx
    (slope, my - slope * mx)
  }

  def close(a: Double, b: Double, tol: Double = Tol): Boolean =
    a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => close(x, y)
    case (None, None) => true
    case _ => false
  }

  /** Differences between an engine report and the oracle's, as text. */
  def diffReport(got: QualityReport, want: QualityReport): Seq[String] =
    Seq(
      "row_count" -> (got.row_count, want.row_count),
      "null_counts" -> (got.null_counts, want.null_counts),
      "temp_outliers_count" -> (got.temp_outliers_count, want.temp_outliers_count),
      "negative_energy_count" -> (got.negative_energy_count, want.negative_energy_count),
      "latest_data_date" -> (got.latest_data_date, want.latest_data_date),
      "days_since_latest_data" -> (got.days_since_latest_data, want.days_since_latest_data),
      "weather_only" -> (got.weather_only, want.weather_only))
      .collect { case (k, (g, w)) if g != w => s"$k: got $g, want $w" }
}
