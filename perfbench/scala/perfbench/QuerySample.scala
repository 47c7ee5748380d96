package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** query_sample: a fixed list of registry queries over generated tables,
  * timed with Bench's protocol, `fn(spark, dir).count()`, with persisted
  * blocks freed between queries outside the timed region. The tables
  * come from a fixed generator seed, so row counts and content hashes can
  * be checked against values recorded from a known-good engine; the
  * run's seed sets the query order of every pass. */
object QuerySample {
  val GenSeed = 42L

  /** Every `step`-th query of the registry by name, starting at the first. */
  def sample(step: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % step == 0 => n }

  /** (rows, order-insensitive content hash): the sum and the xor of a
    * 64-bit hash of each collected row's text. Doubles are rounded to 6
    * places first, so last-bit float noise does not count. */
  def digest(df: DataFrame): (Long, String) = {
    def text(v: Any): String = v match {
      case null => "null"
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case f: Float => text(f.toDouble)
      case r: Row => r.toSeq.map(text).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => text(k) + ":" + text(x) }
        .sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
      case x => x.toString
    }
    val hashes = df.collect().map { r =>
      val b = text(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (MurmurHash3.bytesHash(b, 1).toLong << 32) | (MurmurHash3.bytesHash(b, 2) & 0xffffffffL)
    }
    (hashes.length.toLong, s"${hashes.map(BigInt(_)).sum}:${hashes.foldLeft(0L)(_ ^ _)}")
  }

  private def freeBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(false))

  def run(h: Harness, seed: Long, work: String, sf: Double, step: Int,
      expected: Map[String, (Long, String)], record: Option[String]): Unit = {
    val spark = h.spark
    val names = sample(step)
    val fns = SparkEntry.queries
    val dir = (1 to 3).map { rep =>
      h.setup {
        val d = s"$work/tables-$rep"
        TableGen.generate(spark, d, sf, GenSeed)
        TableGen.checkRows(spark, d, sf)
        if (rep > 1) Pipelines.delete(s"$work/tables-${rep - 1}")
        d
      }
    }.last
    val (files, bytes) = TableGen.Tables.map(t => Pipelines.dataFiles(s"$dir/$t.parquet", ".parquet"))
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    h.note("queries", names.size)
    h.note("sf", sf)

    h.mark("setup")

    h.loop { (i, traced) =>
      val order = new scala.util.Random(RawZone.mix(seed, i.toLong)).shuffle(names)
      val done = order.map { n =>
        val req = h.request(s"query.$n", i, traced) {
          val df = h.tracer.span("build")(fns(n)(spark, dir))
          h.tracer.span("action")(df.count()) -> df
        }
        freeBlocks(spark)
        n -> req
      }
      () => {
        done.foreach { case (n, req) =>
          req.result.foreach { case (rows, _) =>
            expected.get(n).foreach { case (want, _) =>
              if (rows != want) h.wrong(req.id, s"$n rows: got $rows, want $want")
            }
          }
        }
        if (i < 0) checkContent(h, dir, sf, step, done, expected, record)
        val nodes = if (!traced) None else Some(done.flatMap(_._2.result)
          .map { case (_, df) => Tracer.nodes(df.queryExecution.optimizedPlan).toLong }.sum)
        h.count(i, traced, "raw_files" -> files, "raw_bytes" -> bytes, "sink_files" -> 0L,
          "sink_bytes" -> 0L, "sink_rows" -> 0L, "history_files" -> 0L, "plan_nodes" -> nodes)
      }
    }
  }

  /** After the warm-up pass, untimed: each query's content digest against
    * the recorded one, failing that query's warm-up request on a mismatch;
    * with `record`, the digests are written there instead. */
  private def checkContent(h: Harness, dir: String, sf: Double, step: Int,
      done: Seq[(String, Request[(Long, DataFrame)])],
      expected: Map[String, (Long, String)], record: Option[String]): Unit = {
    val digests = done.map { case (n, req) =>
      val d = try Right(digest(SparkEntry.queries(n)(h.spark, dir)))
        catch { case e: Throwable => Left(e.toString) }
      freeBlocks(h.spark)
      (d, expected.get(n)) match {
        case (Left(err), _) => h.wrong(req.id, s"$n raised $err")
        case (_, None) => h.wrong(req.id, s"$n has no recorded value")
        case (Right(got), Some(want)) if got != want => h.wrong(req.id, s"$n content: got $got, want $want")
        case _ =>
      }
      n -> d
    }
    record.foreach { path =>
      Harness.write(path, Harness.obj("sf" -> sf, "gen_seed" -> GenSeed, "step" -> step,
        "queries" -> Harness.obj(digests.sortBy(_._1).map {
          case (n, Right((rows, hash))) => n -> Harness.obj("rows" -> rows, "hash" -> hash)
          case (n, Left(err)) => n -> Harness.obj("error" -> err)
        }: _*)))
    }
  }
}
