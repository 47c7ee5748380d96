package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.config.PipelineConfig
import graft.domain.QualityReport
import graft.operators.{Analytics, PipelineOps, QualityOps}
import graft.pipeline.Pipeline

/** The pipeline workload and its checks. */
object Pipelines {
  val Cfg: PipelineConfig = PipelineConfig.default
  /** The injected clock: a Historical run covers the 180 days before it. */
  val Today: LocalDate = LocalDate.parse("2024-07-01")

  def dates(mode: Pipeline.Mode, today: LocalDate): (LocalDate, LocalDate) = {
    val (s, e) = Pipeline.dateWindow(mode, today)
    (LocalDate.parse(s), LocalDate.parse(e))
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** (files, bytes) of the data files under `dir` with the given suffix. */
  def dataFiles(dir: String, suffix: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-") &&
          f.getFileName.toString.endsWith(suffix)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** `Pipeline.run`. A traced round makes the same calls in the same order
    * through the engine's public functions, with a span around each:
    * energy build, emptiness probe, weather build, fact build, quality
    * report, parquet sink, CSV sink. Returns the report and, when traced,
    * the fact frame so its plan can be sized after the round. */
  def run(h: Harness, raw: Seq[(String, DataFrame, DataFrame)], mode: Pipeline.Mode,
      today: LocalDate, out: String, traced: Boolean): (QualityReport, Option[DataFrame]) =
    if (!traced) (Pipeline.run(h.spark, raw, mode, today, out, Cfg), None)
    else {
      val t = h.tracer
      val (start, end) = Pipeline.dateWindow(mode, today)
      val energy = t.span("operators.energy")(Pipeline.buildEnergy(raw, start, end))
      val energyEmpty = t.span("operators.energy_probe")(
        energy.filter(col("energy_demand_gwh").isNotNull).isEmpty)
      val weather = t.span("operators.weather")(Pipeline.buildWeather(raw, start, end))
      val fact =
        if (energyEmpty) weather.persist()
        else t.span("operators.fact")(
          PipelineOps.deriveTempAvg(PipelineOps.joinWeatherEnergy(weather, energy))).persist()
      try {
        val report = t.span("operators.quality")(QualityOps.report(fact, today.toString, Cfg))
          .copy(weather_only = energyEmpty)
        if (energyEmpty) t.span("operators.sink_csv")(PipelineOps.writeCsv(fact, s"$out/weather_csv"))
        else {
          t.span("operators.sink_parquet")(PipelineOps.writePartitioned(fact, s"$out/weather_energy_parquet"))
          t.span("operators.sink_csv")(PipelineOps.writeCsv(fact, s"$out/weather_energy_csv"))
        }
        (report, Some(fact))
      } finally fact.unpersist()
    }

  def checkReport(h: Harness, id: Int, got: QualityReport, want: QualityReport): Unit = {
    val d = Oracle.diffReport(got, want)
    if (d.nonEmpty) h.wrong(id, s"quality report: ${d.mkString("; ")}")
  }

  private def opt(r: Row, name: String): Option[Double] = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  private def fromRow(r: Row): Oracle.Fact =
    Oracle.Fact(LocalDate.parse(r.getAs[java.sql.Date]("date").toString), r.getAs[String]("city"),
      opt(r, "temp_max_f"), opt(r, "temp_min_f"), opt(r, "temp_avg_f"), opt(r, "energy_demand_gwh"))

  /** The CSV sink's rows, parsed without Spark (one header, no quoting:
    * no value the pipeline writes contains a comma). */
  def readCsv(dir: String): Seq[Oracle.Fact] = {
    val files = Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    files.flatMap { f =>
      val lines = Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      val header = lines.head.split(",", -1).zipWithIndex.toMap
      lines.tail.map { line =>
        val v = line.split(",", -1)
        def d(k: String) = Some(v(header(k))).filter(_.nonEmpty).map(_.toDouble)
        Oracle.Fact(LocalDate.parse(v(header("date"))), v(header("city")),
          d("temp_max_f"), d("temp_min_f"), d("temp_avg_f"), d("energy_demand_gwh"))
      }
    }
  }

  /** The parquet sink's (city, date) partitions, from its directory names. */
  def partitions(sink: String): Map[(String, LocalDate), String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    def under(dir: File, key: String): Seq[(String, File)] =
      Option(dir.listFiles).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith(key + "="))
        .map(f => unescapePathName(f.getName.drop(key.length + 1)) -> f)
    (for {
      (city, cd) <- under(new File(sink), "city")
      (date, dd) <- under(cd, "date")
    } yield (city, LocalDate.parse(date)) -> dd.getPath).toMap
  }

  /** Checks the parquet sink: its partitions are exactly `keys`, and the
    * rows of a seeded sample of them match the oracle. Reading all of a
    * small-file sink back costs more than the run it checks. */
  def checkSink(h: Harness, sink: String, want: Seq[Oracle.Fact], sample: Int, seed: Long): Seq[String] = {
    val parts = partitions(sink)
    val keys = want.map(f => (f.city, f.date)).toSet
    val extra = parts.keySet -- keys
    val missing = keys -- parts.keySet
    val picked = new scala.util.Random(seed).shuffle(parts.keys.toSeq.sortBy(_.toString))
      .filter(keys).take(sample)
    val got = if (picked.isEmpty) Nil else h.spark.read.option("basePath", sink)
      .parquet(picked.map(parts): _*).collect().toSeq.map(fromRow)
    val pickedSet = picked.toSet
    diffFacts(got, want.filter(f => pickedSet((f.city, f.date)))) ++
      extra.take(3).map(k => s"unexpected partition $k") ++ missing.take(3).map(k => s"missing partition $k")
  }

  /** Compares engine rows with the oracle's fact rows; returns mismatches. */
  def diffFacts(got: Seq[Oracle.Fact], want: Seq[Oracle.Fact]): Seq[String] = {
    val byKey = want.map(f => (f.date, f.city) -> f).toMap
    val seen = got.map(f => (f.date, f.city))
    val wrong = got.flatMap { g =>
      byKey.get((g.date, g.city)) match {
        case None => Some(s"unexpected row ${(g.date, g.city)}")
        case Some(f) =>
          val ok = Oracle.close(g.tmax, f.tmax) && Oracle.close(g.tmin, f.tmin) &&
            Oracle.close(g.tavg, f.tavg) && Oracle.close(g.energy, f.energy)
          if (ok) None else Some(s"got $g, want $f")
      }
    }
    val missing = byKey.keySet -- seen
    val dup = seen.size - seen.toSet.size
    wrong ++ missing.take(3).map(k => s"missing row $k") ++
      (if (missing.size > 3) Seq(s"... ${missing.size} rows missing") else Nil) ++
      (if (dup > 0) Seq(s"$dup duplicate rows") else Nil)
  }

  /** backfill_wide: each round is one Historical run over many generated
    * cities into a fresh output directory, then the dashboard opens the
    * parquet sink the run wrote and runs its set over it. */
  def backfill(h: Harness, seed: Long, cities: Int, work: String): Unit = {
    val (start, end) = dates(Pipeline.Historical, Today)
    val cs = RawZone.generatedCities(seed, cities)
    // set-up: generate and land the raw zone, then read it back through
    // the engine's raw schemas (short, so repeated 7 times)
    val (readings, landed, rawFiles, rawBytes) = (1 to 7).map { _ =>
      h.setup {
        delete(s"$work/raw")
        val rs = cs.map(RawZone.readings(_, start, end))
        val (l, files, bytes) = RawZone.land(s"$work/raw", rs)
        RawZone.checkLanded(h.spark, l, rs)
        (rs, l, files, bytes)
      }
    }.last
    val want = readings.flatMap(Oracle.fact(_, start, end))
    val wantReport = Oracle.quality(want, Today, Cfg.quality.tempMaxF, Cfg.quality.tempMinF)
    h.note("cities", cities)
    h.note("fact_rows", want.size)
    h.mark("setup")

    h.loop { (i, traced) =>
      val out = s"$work/out-$i"
      val sink = s"$out/weather_energy_parquet"
      val req = h.request("backfill", i, traced) {
        val raw = h.tracer.span("sources.open")(landed.map(RawZone.open(h.spark, _)))
        run(h, raw, Pipeline.Historical, Today, out, traced)
      }
      val results = serve(h, sink, i, traced)
      () => {
        req.result.foreach { case (report, fact) =>
          checkReport(h, req.id, report, wantReport)
          val d = diffFacts(readCsv(s"$out/weather_energy_csv"), want) ++
            checkSink(h, sink, want, 20, RawZone.mix(seed, i.toLong))
          if (d.nonEmpty) h.wrong(req.id, s"backfill sinks: ${d.take(3).mkString("; ")}")
          val (pf, pb) = dataFiles(sink, ".parquet")
          val (cf, cb) = dataFiles(s"$out/weather_energy_csv", ".csv")
          h.count(i, traced, "sink_rows" -> report.row_count, "sink_files" -> (pf + cf),
            "sink_bytes" -> (pb + cb), "raw_files" -> rawFiles, "raw_bytes" -> rawBytes,
            "history_files" -> pf,
            "plan_nodes" -> fact.map(f => Tracer.nodes(f.queryExecution.optimizedPlan)),
            "dash_plan_nodes" -> results.values.flatMap(_.result)
              .map { case (_, df) => Tracer.nodes(df.queryExecution.optimizedPlan) }.sum)
        }
        checkDashboard(h, results, want)
        delete(out)
      }
    }
  }

  /** The dashboard set, in the reference dashboard's order. Each builds a
    * lazy frame over the fact table; the request collects it. */
  val Dashboard: Seq[(String, DataFrame => DataFrame)] = Seq(
    "latest" -> (f => Analytics.latestWithPrevDay(f)),
    "timeseries_diff" -> (f => Analytics.timeSeries(f, diff = true)),
    "heatmap" -> (f => Analytics.heatmap(f)),
    "ols_ci" -> (f => Analytics.olsCiBands(f, "temp_avg_f", "energy_demand_gwh").get),
    "quality_ts" -> (f => QualityOps.qualityTimeSeries(f, Cfg)),
    "problem_rows" -> (f => QualityOps.problemRows(f, Cfg)))

  /** The dashboard opens the parquet sink once, then runs its set. */
  private def serve(h: Harness, sink: String, round: Int, traced: Boolean)
      : Map[String, Request[(Seq[Row], DataFrame)]] = {
    val hist = h.request("dash.open", round, traced)(h.spark.read.parquet(sink))
    hist.result.toSeq.flatMap(f => Dashboard.map { case (name, build) =>
      name -> h.request(s"dash.$name", round, traced) {
        val df = h.tracer.span("build")(build(f))
        h.tracer.span("action")(df.collect().toSeq) -> df
      }
    }).toMap
  }

  private def checkDashboard(h: Harness, results: Map[String, Request[(Seq[Row], DataFrame)]],
      want: Seq[Oracle.Fact]): Unit = {
    results.get("latest").foreach { latest => latest.result.foreach { case (rows, _) =>
      val w = Oracle.latest(want)
      val bad = rows.flatMap { r =>
        val city = r.getAs[String]("city")
        w.get(city) match {
          case None => Some(s"unexpected city $city")
          case Some((date, energy, prev, pct)) =>
            val ok = r.getAs[java.sql.Date]("date").toString == date.toString &&
              Oracle.close(opt(r, "energy_demand_gwh"), energy) &&
              Oracle.close(r.getAs[Double]("prev_energy"), prev) && Oracle.close(opt(r, "pct_change"), pct)
            if (ok) None else Some(s"latest $city: got $r, want ${(date, energy, prev, pct)}")
        }
      }
      val missing = w.keySet -- rows.map(_.getAs[String]("city"))
      if (bad.nonEmpty || missing.nonEmpty)
        h.wrong(latest.id, (bad ++ missing.map(c => s"latest: missing $c")).take(3).mkString("; "))
    } }
    results.get("ols_ci").foreach { ols => ols.result.foreach { case (rows, _) =>
      // the band's fitted line through its two extreme grid points
      val (slope, intercept) = Oracle.ols(want)
      val pts = rows.map(r => (r.getAs[Double]("x"), r.getAs[Double]("y_hat"))).sortBy(_._1)
      val ok = pts.size >= 2 && {
        val ((x0, y0), (x1, y1)) = (pts.head, pts.last)
        val s = (y1 - y0) / (x1 - x0)
        Oracle.close(s, slope, 1e-6) && Oracle.close(y0 - s * x0, intercept, 1e-6)
      }
      if (!ok) h.wrong(ols.id, s"ols: want slope $slope intercept $intercept, got ${pts.take(2)}")
    } }
    results.get("problem_rows").foreach { problems => problems.result.foreach { case (rows, _) =>
      val q = Cfg.quality
      val n = want.count(f => f.tmax.isEmpty || f.tmin.isEmpty || f.tavg.isEmpty || f.energy.isEmpty ||
        f.tmax.exists(_ > q.tempMaxF) || f.tmin.exists(_ < q.tempMinF) || f.energy.exists(_ < 0))
      if (rows.size != n) h.wrong(problems.id, s"problem rows: got ${rows.size}, want $n")
    } }
  }
}
