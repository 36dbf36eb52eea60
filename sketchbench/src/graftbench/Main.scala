package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: seeded inputs, a repeatable measured op, output checks
  * and, for traced runs, per-layer probes. */
abstract class Workload(val spark: SparkSession, val o: Opts, val t: Tracer) {
  val checks = new Checks
  /** Generates the inputs from the seed (repeatable; later calls replace
    * the inputs of earlier ones). */
  def generate(): Unit
  /** One-time setup over the generated inputs: exact truth, stored tables. */
  def prepare(): Unit = ()
  /** Runs the op shape untimed until the JIT and the caches are warm. */
  def warmup(): Unit
  /** One measured operation; returns the items it processed. Checks of its
    * output go to `checks` (keyed per op when they must hold per op). */
  def op(i: Int): Double
  /** Upper bound on measured ops (inputs generated for at most this many). */
  def maxOps: Int = Int.MaxValue
  /** Checks of op `i`'s output, run after it, outside its timing. */
  def checkOp(i: Int): Unit = ()
  /** Checks after the measured loop. */
  def finish(): Unit = ()
  /** Per-layer probes of a traced run. */
  def layers(): Seq[(String, Double, String)] = Nil
  /** Workload-specific figures for the report line, from the op latencies
    * (seconds) and items. */
  def report(lat: Seq[Double], items: Seq[Double]): Seq[(String, String)] = Nil
  def close(): Unit = ()
}

object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit =
    try run(Opts.parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(2)
    }

  private def run(o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val t = new Tracer(spark, o.trace, o.cores)
    val w: Workload = o.workload match {
      case "sketch_ingest" => new SketchIngest(spark, o, t)
      case "sketch_query"  => new SketchQuery(spark, o, t)
      case "curate_corpus" => new CurateCorpus(spark, o, t)
      case "curate_stream" => new CurateStream(spark, o, t)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0
    var failed = 0

    // setup: session start once, input generation SetupRepeats times (the
    // median counts), then the one-time preparation and the warm-up
    val genS = (1 to SetupRepeats).map(_ => Stats.seconds(w.generate()))
    val prepS = Stats.seconds(w.prepare())
    val warmS = Stats.seconds(w.warmup())
    val setupS = sessionS + Stats.median(genS) + prepS + warmS
    t.reset()

    // measured closed loop; a traced run alternates traced and untraced ops
    // (at least one of each), so the gap between them is the tracing overhead
    val lat = mutable.ArrayBuffer.empty[Double]
    val items = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    val minOps = if (o.trace) 2 else 1
    while (i < minOps || (System.nanoTime() < deadline && i < w.maxOps)) {
      val traced = !o.trace || i % 2 == 0
      attempted += 1
      try {
        if (traced) {
          val (n, dt) = t.op(o.workload)(w.op(i))
          lat += dt; items += n
        } else {
          t.pause()
          try {
            untraced += Stats.seconds(w.op(i))
          } finally t.resume()
        }
        w.checkOp(i)
      } catch {
        case e: Exception =>
          failed += 1
          w.checks.notes += s"op $i failed: ${e.toString.take(300)}"
      }
      i += 1
    }
    val layerMetrics = if (o.trace) t.layerMetrics() else Nil
    try w.finish()
    catch { case e: Exception => w.checks.require("finish", false, e.toString.take(300)) }
    val probes = if (o.trace) w.layers() else Nil
    val checkResults = w.checks.results
    attempted += checkResults.size
    failed += checkResults.count(!_._2)
    t.writeSpans(s"${o.traces}/${o.workload}-seed${o.seed}.json")

    val ok = lat.nonEmpty
    val metrics: Seq[(String, String)] =
      if (!o.trace) Seq(
        "setup_s" -> Json.metric(setupS, "s"),
        // the median over ops of items per second
        "items_per_s" -> Json.metric(
          if (ok) Stats.median(lat.indices.map(k => items(k) / lat(k))) else 0.0, "1/s"),
        "op_p50_ms" -> Json.metric(if (ok) 1e3 * Stats.median(lat.toSeq) else 0.0, "ms"))
      else {
        val got = (layerMetrics ++ probes).map { case (k, v, u) => k -> (v, u) }.toMap
        val overhead =
          if (ok && untraced.nonEmpty) Stats.median(lat.toSeq) / Stats.median(untraced.toSeq) - 1.0
          else 0.0
        Layers.all.map { case (k, u) => k -> Json.metric(got.get(k).map(_._1).getOrElse(0.0), u) } :+
          ("trace.overhead_frac" -> Json.metric(overhead, "fraction"))
      }

    val info = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "cores" -> o.cores.toString,
      "ops" -> lat.size.toString,
      "setup_session_s" -> Json.num(sessionS),
      "setup_generate_s" -> genS.map(Json.num).mkString("[", ",", "]"),
      "setup_prepare_s" -> Json.num(prepS),
      "setup_warmup_s" -> Json.num(warmS),
      "failed_share" -> Json.num(failed.toDouble / math.max(1, attempted))) ++
      (if (ok) w.report(lat.toSeq, items.toSeq) else Nil) ++ Seq(
      "checks" -> Json.obj(checkResults.map { case (k, v) => k -> v.toString }),
      "notes" -> w.checks.notes.map(Json.str).mkString("[", ",", "]"),
      "confs" -> Json.obj(Session.confs(o).map { case (k, v) => k -> Json.str(v) }))
    println(Json.obj(info))
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics))))
    System.out.flush()
    w.close()
    spark.stop()
    System.exit(0)
  }
}
