package graftbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String, traces: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("work"), m("traces"))
  }
}

/** The session a user would build: the graft extension at local[nproc] and
  * only the settings needed to keep every file the run writes inside its
  * work directory. No engine tuning; every conf set here is reported. */
object Session {
  def confs(o: Opts): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${o.cores}]",
    "spark.app.name" -> "graft-sketchbench",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${o.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${o.work}/warehouse",
    "spark.sql.streaming.checkpointLocation" -> s"${o.work}/checkpoints")

  def start(o: Opts): SparkSession = {
    val b = SparkSession.builder()
    confs(o).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Locale-independent JSON output with full-precision numbers. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metric(value: Double, unit: String): String =
    obj(Seq("value" -> num(value), "unit" -> str(unit)))
}

object Stats {
  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest whole percentile that still leaves at least 10 samples
    * above it, with its value; None with fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Some(p -> quantile(xs, p / 100.0))
    }
  }
}

object Checks {
  /** Probability that a correct estimator falls outside its 3-sigma bounds. */
  val ThreeSigma = 0.0027
  val TwoSigma = 0.0455
}

/** Output checks of a run. Strict checks must always hold. Statistical
  * checks are confidence-bound checks (each holds with probability 1 - p):
  * each distinct key counts once, and a family fails only when its misses
  * exceed what a correct estimator shows with probability 1e-6. */
final class Checks {
  private val strict = mutable.LinkedHashMap.empty[String, Boolean]
  private val stat = mutable.LinkedHashMap.empty[String, (Double, mutable.LinkedHashMap[String, Boolean])]
  val notes = mutable.ArrayBuffer.empty[String]

  def require(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    strict(name) = strict.getOrElse(name, true) && ok
    if (!ok && notes.length < 20) notes += s"$name: $detail"
    ok
  }
  def bound(family: String, p: Double, key: String, ok: Boolean, detail: => String = ""): Unit = {
    val (_, m) = stat.getOrElseUpdate(family, (p, mutable.LinkedHashMap.empty))
    if (!m.contains(key)) {
      m(key) = ok
      if (!ok && notes.length < 20) notes += s"$family/$key outside bounds: $detail"
    }
  }
  /** Largest miss count a correct estimator exceeds with probability < 1e-6. */
  private def allowed(n: Int, p: Double): Int = {
    var k = 0
    var pmf = math.pow(1 - p, n)
    var tailMass = 1.0 - pmf
    while (tailMass >= 1e-6 && k < n) {
      pmf = pmf * (n - k) / (k + 1) * p / (1 - p)
      k += 1
      tailMass -= pmf
    }
    k
  }
  /** (check name, passed) for every check; statistical families summarized. */
  def results: Seq[(String, Boolean)] =
    strict.toSeq ++ stat.toSeq.map { case (fam, (p, m)) =>
      val misses = m.values.count(!_)
      s"$fam[${m.size} keys, $misses misses]" -> (misses <= allowed(m.size, p))
    }
}
