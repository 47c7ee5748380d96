package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes what it measured
  * (set-up times, every timed request and round, counters, failures and,
  * for a traced run, spans, jobs and plans) to one JSON file. `run.py`
  * builds this, starts it, and turns the file into metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --out FILE --cores N [--cities N] [--sf X] [--step N]
  * [--expected FILE] [--record FILE] */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val trace = arg("trace") == "1"
    val work = arg("work")
    val cores = arg("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer, arg("seconds").toInt, trace)
    h.mark("session")
    workload match {
      case "train" => train(spark, work)
      case "backfill_wide" => Pipelines.backfill(h, seed, arg("cities").toInt, work)
      case "query_sample" =>
        QuerySample.run(h, seed, work, arg("sf").toDouble, arg("step").toInt,
          args.get("expected").filter(new java.io.File(_).exists).map(expected).getOrElse(Map.empty),
          args.get("record"))
      case other => sys.error(s"unknown workload $other")
    }
    val result = h.toJson("workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "tracing" -> (if (trace) tracer.toJson else null))
    Harness.write(arg("out"), result)
    // streaming queries leave state-store maintenance threads behind
    org.apache.spark.sql.graft.StateStoreHooks.stopAll()
    spark.stop()
    sys.exit(0)
  }

  /** A small, traced pass over every workload, run once at build time so
    * the JVM can archive the classes they load (class-data sharing): each
    * run then maps them instead of loading them one jar entry at a time. */
  private def train(spark: SparkSession, work: String): Unit = {
    val tracer = new Tracer(spark)
    tracer.on()
    Pipelines.backfill(new Harness(spark, tracer, 0, trace = false), 1, 1, s"$work/backfill")
    tracer.off()
    QuerySample.run(new Harness(spark, tracer, 0, trace = false), 1, s"$work/query",
      0.001, 36, Map.empty, None)
  }

  /** Recorded (rows, hash) per query from an expected-values file. */
  private def expected(path: String): Map[String, (Long, String)] = {
    val root = Harness.mapper.readTree(new java.io.File(path))
    val qs = root.get("queries")
    val it = qs.fieldNames()
    var out = Map.empty[String, (Long, String)]
    while (it.hasNext) {
      val n = it.next()
      val q = qs.get(n)
      if (q.has("rows")) out += n -> (q.get("rows").asLong(), q.get("hash").asText())
    }
    out
  }
}
