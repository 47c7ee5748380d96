package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.domain.Schemas

/** Seeded raw-zone generator: lands NOAA CDO and EIA v2 payload pages as
  * files, the way the reference's fetchers persist every API response
  * before processing. Page sizes are the reference's: 1,000 NOAA results
  * and 5,000 EIA rows per page.
  *
  * Every city has its own seed, and each (city, day) is a pure function of
  * that seed and the day, so any window of days regenerates on its own. The
  * data carries the defects real payloads have, at small fixed rates:
  * missing days, missing readings and hours, duplicate readings, malformed
  * EIA values, rare out-of-range temperatures and negative demand days. */
object RawZone {
  val NoaaPageSize = 1000
  val EiaPageSize = 5000
  /** Values the EIA feed sends for "no reading"; all cast to NULL. */
  val Malformed: IndexedSeq[String] = IndexedSeq("", "N/A", "-", "null")

  final case class City(name: String, seed: Long)
  final case class Noaa(date: LocalDate, datatype: String, valueC: Double)
  final case class Eia(period: String, value: String)
  /** One city's generated readings, kept for the oracle. */
  final case class Readings(city: City, noaa: Seq[Noaa], eia: Seq[Eia])
  /** Where one city's pages landed. */
  final case class Landed(city: String, noaaDir: String, eiaDir: String)

  /** SplitMix64 finalizer: decorrelates (seed, index) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def generatedCities(seed: Long, n: Int): Seq[City] =
    (1 to n).map(i => City(f"City $i%04d", mix(seed, i.toLong)))

  private def rng(c: City, day: LocalDate, salt: Long) =
    new SplittableRandom(mix(mix(c.seed, day.toEpochDay), salt))
  private def round1(x: Double): Double = math.round(x * 10) / 10.0

  /** The day's true mean temperature (°C): city climate + season + noise. */
  private def truthC(c: City, day: LocalDate): Double = {
    val climate = new SplittableRandom(c.seed)
    val base = 4 + 18 * climate.nextDouble()
    val season = 11 * math.sin((day.getDayOfYear - 105) * 2 * math.Pi / 365.25)
    base + season + 3 * rng(c, day, 1).nextGaussian()
  }

  def noaaDay(c: City, day: LocalDate): Seq[Noaa] = {
    val r = rng(c, day, 2)
    if (r.nextDouble() < 0.02) return Nil // station reported nothing
    val t = truthC(c, day)
    val spread = 4 + 2 * r.nextDouble()
    Seq("TMAX" -> (t + spread), "TMIN" -> (t - spread)).flatMap { case (dt, v) =>
      val value = if (dt == "TMAX" && r.nextDouble() < 0.002) 57.5 else v // sensor spike
      if (r.nextDouble() < 0.01) Nil
      else if (r.nextDouble() < 0.03)
        Seq(Noaa(day, dt, round1(value)), Noaa(day, dt, round1(value + r.nextDouble() - 0.5)))
      else Seq(Noaa(day, dt, round1(value)))
    }
  }

  def eiaDay(c: City, day: LocalDate): Seq[Eia] = {
    val r = rng(c, day, 3)
    if (r.nextDouble() < 0.02) return Nil // feed outage for the whole day
    val baseMwh = 800 + 4000 * new SplittableRandom(mix(c.seed, 7)).nextDouble()
    val f = truthC(c, day) * 9 / 5 + 32
    val load = baseMwh * (1 + 0.15 * math.pow((f - 65) / 20, 2))
    val sign = if (r.nextDouble() < 0.003) -1 else 1 // net-metering glitch day
    (0 until 24).flatMap { h =>
      val period = f"$day%sT$h%02d"
      val hourly = sign * load * (0.8 + 0.3 * math.sin((h - 6) * math.Pi / 12)) *
        (1 + 0.05 * r.nextGaussian())
      val value =
        if (r.nextDouble() < 0.01) Malformed(r.nextInt(Malformed.size))
        else String.format(Locale.ROOT, "%.1f", Double.box(hourly))
      if (r.nextDouble() < 0.02) Nil
      else if (r.nextDouble() < 0.01) Seq(Eia(period, value), Eia(period, value))
      else Seq(Eia(period, value))
    }
  }

  def readings(c: City, start: LocalDate, end: LocalDate): Readings = {
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
    Readings(c, days.flatMap(noaaDay(c, _)), days.flatMap(eiaDay(c, _)))
  }

  private def noaaPage(rs: Seq[Noaa], offset: Int, total: Int): String =
    rs.map { n =>
      s"""{"date":"${n.date}T00:00:00","datatype":"${n.datatype}","station":"GHCND:BENCH",""" +
        s""""attributes":",,W,2400","value":${n.valueC}}"""
    }.mkString(
      s"""{"metadata":{"resultset":{"offset":${offset + 1},"count":$total,"limit":$NoaaPageSize}},"results":[""",
      ",", "]}")

  private def eiaPage(rs: Seq[Eia], total: Int): String =
    rs.map(e => s"""{"period":"${e.period}","respondent":"BENCH","type":"D","value":${Harness.mapper.writeValueAsString(e.value)}}""")
      .mkString(s"""{"response":{"total":"$total","frequency":"hourly","data":[""", ",", "]}}")

  /** An empty result is still one (empty) page, as the APIs return it. */
  private def pages[T](rs: Seq[T], size: Int): Seq[Seq[T]] =
    if (rs.isEmpty) Seq(Nil) else rs.grouped(size).toSeq

  /** Writes each city's pages under `dir`; returns the landing places and
    * (files, bytes) written. */
  def land(dir: String, rs: Seq[Readings]): (Seq[Landed], Long, Long) = {
    var files = 0L
    var bytes = 0L
    def write(path: String, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      val p = Paths.get(path)
      Files.createDirectories(p.getParent)
      Files.write(p, b)
      files += 1
      bytes += b.length
    }
    val landed = rs.map { r =>
      val key = r.city.name.replaceAll("[^A-Za-z0-9]", "_")
      val noaaDir = s"$dir/noaa/$key"
      val eiaDir = s"$dir/eia/$key"
      pages(r.noaa, NoaaPageSize).zipWithIndex.foreach { case (page, i) =>
        write(f"$noaaDir/page-${i + 1}%04d.json", noaaPage(page, i * NoaaPageSize, r.noaa.size))
      }
      pages(r.eia, EiaPageSize).zipWithIndex.foreach { case (page, i) =>
        write(f"$eiaDir/page-${i + 1}%04d.json", eiaPage(page, r.eia.size))
      }
      Landed(r.city.name, noaaDir, eiaDir)
    }
    (landed, files, bytes)
  }

  /** Reads the landed pages back through `open` and fails unless they hold
    * every generated NOAA result and EIA row. */
  def checkLanded(spark: SparkSession, landed: Seq[Landed], rs: Seq[Readings]): Unit = {
    import org.apache.spark.sql.functions.{col, explode}
    val opened = landed.map(open(spark, _))
    val noaa = opened.map(_._2.select(explode(col("results")))).reduce(_ union _).count()
    val eia = opened.map(_._3.select(explode(col("response.data")))).reduce(_ union _).count()
    val want = (rs.map(_.noaa.size).sum.toLong, rs.map(_.eia.size).sum.toLong)
    if ((noaa, eia) != want) sys.error(s"landed raw zone reads back $noaa NOAA results and " +
      s"$eia EIA rows, want ${want._1} and ${want._2}")
  }

  /** Opens the landed pages with the engine's pinned raw schemas. */
  def open(spark: SparkSession, l: Landed): (String, DataFrame, DataFrame) =
    (l.city, spark.read.schema(Schemas.noaaRaw).json(l.noaaDir),
      spark.read.schema(Schemas.eiaRaw).json(l.eiaDir))
}
