package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed request's id, and its result unless it raised. */
final class Request[T](val id: Int, val result: Option[T])

/** Bookkeeping shared by the workloads: set-up repetitions, the closed
  * loop of rounds, timed requests, failures and counters. One client runs
  * the loop, so each request starts only after the previous one ends. */
final class Harness(val spark: SparkSession, val tracer: Tracer, seconds: Int, trace: Boolean) {
  private val setupReps = mutable.ArrayBuffer[Double]()
  private val requests = mutable.ArrayBuffer[Harness.Obj]()
  private val rounds = mutable.ArrayBuffer[Harness.Obj]()
  private val failures = mutable.ArrayBuffer[String]()
  private val failedIds = mutable.Set[Int]()
  private val counters = mutable.ArrayBuffer[Harness.Obj]()
  private var nextId = 0
  private var warmed = 0
  private val info = mutable.LinkedHashMap[String, Any]()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One repetition of the workload's set-up; setup_s is their median. */
  def setup[T](body: => T): T = { val (r, s) = timed(body); setupReps += s; r }

  def note(key: String, value: Any): Unit = info(key) = value

  /** Notes the seconds since the JVM started, to show where a run's time goes. */
  def mark(phase: String): Unit = note(s"at_${phase}_s",
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

  /** A timed request. An exception fails it and yields None; `wrong` fails
    * it later, when a check of its output does not hold. */
  def request[T](kind: String, round: Int, traced: Boolean)(body: => T): Request[T] = {
    val id = nextId
    nextId += 1
    val t0 = tracer.now
    val r =
      try Some(tracer.span(kind)(body))
      catch { case e: Throwable => wrong(id, s"$kind raised ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    requests += Harness.obj("id" -> id, "kind" -> kind, "round" -> round, "traced" -> traced,
      "start" -> t0, "s" -> (tracer.now - t0))
    new Request(id, r)
  }

  def wrong(id: Int, why: String): Unit = {
    failedIds += id
    if (failures.size < 50) failures += why.take(500)
  }

  /** Per-round counters (files, bytes, plan nodes, ...). */
  def count(round: Int, traced: Boolean, values: (String, Any)*): Unit =
    counters += Harness.obj((Seq("round" -> round, "traced" -> traced) ++ values): _*)

  /** The closed loop. First one warm-up round, numbered -1 and the same
    * as the timed ones, so that those do not pay for class loading and
    * first compilation: its outputs are checked and its requests count as
    * attempted, but its times are dropped. Then rounds back to back until
    * the run's seconds have passed, at least one. A traced run makes whole
    * pairs of one traced and one untraced round, at least one pair, traced
    * first in every other pair, so that round order does not bias the
    * tracing overhead. A round returns the checks of its outputs, which
    * run after the round, untimed and untraced. */
  def loop(body: (Int, Boolean) => () => Unit): Unit = {
    mark("loop")
    val (warmCheck, warmS) = timed(body(-1, false))
    note("warmup_s", warmS)
    note("warmup_check_s", timed(warmCheck())._2)
    warmed = requests.size
    requests.clear()
    counters.clear()
    mark("warm")
    val t0 = tracer.now
    var i = 0
    var checking = 0.0
    while (i == 0 || tracer.now - t0 - checking < seconds || (trace && i % 2 == 1)) {
      val traced = trace && (i % 2 == 0) == (i / 2 % 2 == 0)
      if (traced) tracer.on()
      val s = tracer.now
      val check = tracer.span("round")(body(i, traced))
      val e = tracer.now
      if (traced) tracer.off()
      rounds += Harness.obj("round" -> i, "traced" -> traced, "start" -> s, "end" -> e)
      val c0 = tracer.now
      check()
      checking += tracer.now - c0
      i += 1
    }
    note("check_s", checking)
    mark("done")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def toJson(extra: (String, Any)*): Harness.Obj = Harness.obj((Seq(
    "setup_reps_s" -> setupReps.toSeq,
    "attempted" -> (warmed + requests.size),
    "failed" -> failedIds.size,
    "failures" -> failures.toSeq,
    "requests" -> requests.toSeq,
    "rounds" -> rounds.toSeq,
    "counters" -> counters.toSeq,
    "info" -> info.toMap,
    "peak_rss_mb" -> peakRssMb) ++ extra): _*)
}

object Harness {
  type Obj = java.util.Map[String, AnyRef]
  val mapper = new ObjectMapper()

  /** A JSON object for the result file. Its fields keep their order, Scala
    * values become Java ones, and non-finite numbers become null, so the
    * file always parses. */
  def obj(fields: (String, Any)*): Obj = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    fields.foreach { case (k, v) => m.put(k, value(v)) }
    m
  }

  private def value(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => value(x)
    case d: Double => if (d.isNaN || d.isInfinite) null else Double.box(d)
    case f: Float => value(f.toDouble)
    case m: java.util.Map[_, _] => m
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] => s.map(value).toSeq.asJava
    case x: AnyRef => x
  }

  def write(path: String, o: Obj): Unit = mapper.writeValue(new java.io.File(path), o)
}
