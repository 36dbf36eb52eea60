package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What the sketch workloads share: the generated rows, the stored
  * (segment, day) sketch table and the exact truth of sampled groups. */
abstract class SketchBase(spark: SparkSession, o: Opts, t: Tracer) extends Workload(spark, o, t) {
  val nRows = 250000L
  val tablePath = s"${o.work}/sketch_table"
  var rows: DataFrame = _

  /** The (segment, day) sketch table: seven families per group. */
  val buildSql: String =
    """SELECT segment, day, count(*) AS n,
      |  datasketch_hll(12, user_id) AS hll, datasketch_cpc(11, user_id) AS cpc,
      |  datasketch_theta(12, user_id) AS theta, datasketch_kll(200, value) AS kll,
      |  datasketch_req(12, value) AS req, datasketch_tdigest(100, value) AS tdigest,
      |  datasketch_frequent_items(10, item) AS fi
      |FROM rows GROUP BY segment, day""".stripMargin

  protected def genRows(): Unit = {
    if (rows != null) rows.unpersist(blocking = true)
    rows = Gen.sketchRows(spark, o.seed, nRows, 2 * o.cores).persist(StorageLevel.MEMORY_ONLY)
    rows.count()
    rows.createOrReplaceTempView("rows")
  }

  protected def writeTable(): Unit =
    t.span("sketch.build_table") {
      spark.sql(buildSql).write.mode("overwrite").parquet(tablePath)
    }

  def tableMb: Double =
    Option(new File(tablePath).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum / (1024.0 * 1024.0)

  /** The sketch layer: builds over the rows, then the primitives and probes
    * over the stored table. */
  override def layers(): Seq[(String, Double, String)] =
    Layers.builds(spark, t, nRows) ++ Layers.sketchPrimitives(spark, t, tablePath) ++
      Layers.probes(spark, t, tablePath)
}

/** Write path: build the seven-family sketch table from the rows and store
  * it as parquet. */
final class SketchIngest(spark: SparkSession, o: Opts, t: Tracer) extends SketchBase(spark, o, t) {
  private var sample: Seq[(Int, Int)] = Nil
  private var truth: Map[(Int, Int), Array[Row]] = Map.empty
  private var nGroups = 0L

  def generate(): Unit = genRows()

  override def prepare(): Unit = {
    val r = new SplittableRandom(o.seed)
    sample = Seq.fill(32)((r.nextInt(40), r.nextInt(Gen.Days))).distinct
    val keys = sample.map { case (s, d) => s"($s,$d)" }.mkString(",")
    truth = spark.sql(s"SELECT segment, day, user_id, value, item FROM rows " +
        s"WHERE (segment, day) IN ($keys)").collect()
      .groupBy(x => (x.getInt(0), x.getInt(1)))
    nGroups = rows.select("segment", "day").distinct().count()
  }

  def warmup(): Unit = writeTable()

  def op(i: Int): Double = { writeTable(); nRows.toDouble }

  override def report(lat: Seq[Double], items: Seq[Double]): Seq[(String, String)] = Seq(
    "ingest_rows_per_s" -> Json.num(Stats.median(lat.map(nRows / _))),
    "sketch_table_mb" -> Json.num(tableMb),
    "ingest_pass_p50_s" -> Json.num(Stats.median(lat)))

  override def finish(): Unit = {
    val stored = spark.read.parquet(tablePath)
    checks.require("table_groups", stored.count() == nGroups, s"${stored.count()} != $nGroups")
    stored.createOrReplaceTempView("stored")
    val keys = sample.map { case (s, d) => s"($s,$d)" }.mkString(",")
    val probeSql =
      s"""SELECT segment, day, n,
         |  datasketch_hll_estimate(hll), datasketch_hll_lower_bound(hll, 3), datasketch_hll_upper_bound(hll, 3),
         |  datasketch_cpc_estimate(cpc), datasketch_cpc_lower_bound(cpc, 3), datasketch_cpc_upper_bound(cpc, 3),
         |  datasketch_theta_estimate(theta), datasketch_theta_lower_bound(theta, 3), datasketch_theta_upper_bound(theta, 3),
         |  datasketch_kll_n(kll), datasketch_kll_normalized_rank_error(kll, false),
         |  datasketch_kll_quantile(kll, 0.1), datasketch_kll_quantile(kll, 0.5), datasketch_kll_quantile(kll, 0.9),
         |  datasketch_req_n(req), datasketch_tdigest_total_weight(tdigest), fi
         |FROM %s WHERE (segment, day) IN ($keys)""".stripMargin
    val fromStore = spark.sql(probeSql.format("stored")).collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> x).toMap
    // parquet round trip: the sampled groups' blobs held in memory, then
    // written and read back, must keep every byte and every estimate
    val inMemory = spark.sql(buildSql.replace("FROM rows", s"FROM rows WHERE (segment, day) IN ($keys)"))
      .localCheckpoint()
    inMemory.createOrReplaceTempView("in_memory")
    inMemory.write.mode("overwrite").parquet(s"${o.work}/roundtrip")
    spark.read.parquet(s"${o.work}/roundtrip").createOrReplaceTempView("read_back")
    val blobs = "hll, cpc, theta, kll, req, tdigest, fi"
    checks.require("parquet_roundtrip_bytes", spark.sql(s"SELECT segment, day, $blobs FROM in_memory " +
      s"EXCEPT ALL SELECT segment, day, $blobs FROM read_back").isEmpty, "blobs changed")
    val before = spark.sql(probeSql.format("in_memory")).collect().map(_.toSeq.dropRight(1)).toSet
    val after = spark.sql(probeSql.format("read_back")).collect().map(_.toSeq.dropRight(1)).toSet
    checks.require("parquet_roundtrip_estimates", before == after, s"${(before diff after).take(1)}")
    checks.require("sampled_groups_present", fromStore.size == sample.size,
      s"${fromStore.size} of ${sample.size}")
    for ((g, x) <- fromStore) {
      val rowsOf = truth(g)
      val users = rowsOf.map(_.getLong(2)).distinct.length.toDouble
      val n = rowsOf.length
      val key = s"${g._1}/${g._2}"
      checks.require("count_exact", x.getLong(2) == n, s"$key n ${x.getLong(2)} != $n")
      for ((fam, c) <- Seq("hll" -> 3, "cpc" -> 6, "theta" -> 9)) {
        val (est, lb, ub) = (x.getDouble(c), x.getDouble(c + 1), x.getDouble(c + 2))
        checks.bound(s"${fam}_3sigma", Checks.ThreeSigma, key, lb <= users && users <= ub,
          s"exact $users est $est [$lb, $ub]")
      }
      checks.require("kll_req_tdigest_n", x.getLong(12) == n && x.getLong(17) == n &&
        x.getLong(18) == n, s"$key n ${x.getLong(12)} ${x.getLong(17)} ${x.getLong(18)} != $n")
      val values = rowsOf.map(_.getDouble(3)).sorted
      val nre = x.getDouble(13)
      for ((rank, c) <- Seq(0.1 -> 14, 0.5 -> 15, 0.9 -> 16)) {
        val q = x.getDouble(c)
        val below = values.count(_ < q).toDouble / n
        val atOrBelow = values.count(_ <= q).toDouble / n
        checks.bound("kll_rank_error", 0.01, s"$key@$rank",
          below <= rank + nre && atOrBelow >= rank - nre, s"q $q ranks [$below, $atOrBelow] nre $nre")
      }
      val fi = x.getAs[Array[Byte]](19)
      val itemCounts = rowsOf.groupBy(_.getString(4)).map { case (k, v) => k -> v.length.toLong }
      for (hh <- Gen.heavyHitters(g._1)) {
        val exact = itemCounts.getOrElse(hh, 0L)
        val sk = org.apache.datasketches.frequencies.ItemsSketch.getInstance(
          org.apache.datasketches.memory.Memory.wrap(fi), new org.apache.datasketches.common.ArrayOfStringsSerDe)
        checks.require("heavy_hitters", exact == 0 ||
          (sk.getLowerBound(hh) <= exact && exact <= sk.getUpperBound(hh) && sk.getEstimate(hh) > 0),
          s"$key $hh exact $exact est ${sk.getEstimate(hh)}")
      }
    }
    Interop.check(spark, checks)
  }

  override def close(): Unit = if (rows != null) rows.unpersist()
}

/** Read path: a seeded closed loop of short queries over the stored table. */
final class SketchQuery(spark: SparkSession, o: Opts, t: Tracer) extends SketchBase(spark, o, t) {
  /** The rollup of round i is rollups(i % 5): each family at one grain, so
    * every five rounds repeat the same work whatever the run's length. */
  private val rollups = Seq("hll" -> "segment", "cpc" -> "day", "theta" -> "segment",
    "kll" -> "day", "fi" -> "segment")
  private var distinctBy: Map[(String, Int), Long] = Map.empty
  private var countBy: Map[(String, Int), Long] = Map.empty
  private var hot: IndexedSeq[(Int, Int)] = IndexedSeq.empty
  private var expectedProbe: Map[(Int, Int), Seq[Double]] = Map.empty
  private var pairs: IndexedSeq[(Int, Int)] = IndexedSeq.empty
  private var pairTruth: Map[(Int, Int), (Double, Double, Double, Double)] = Map.empty
  private val digests = mutable.HashMap.empty[String, Int]
  /** Latency of every measured query, by kind. */
  private val latByKind = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def generate(): Unit = genRows()

  override def prepare(): Unit = {
    writeTable()
    spark.read.parquet(tablePath).createOrReplaceTempView("stored")
    // exact coarse counts for the rollups
    val exact = spark.sql("SELECT segment, day, count(DISTINCT user_id), count(*) FROM rows " +
        "GROUP BY GROUPING SETS ((segment), (day))").collect()
      .map(x => (if (x.isNullAt(0)) ("day", x.getInt(1)) else ("segment", x.getInt(0))) ->
        (x.getLong(2), x.getLong(3)))
    distinctBy = exact.map { case (k, v) => k -> v._1 }.toMap
    countBy = exact.map { case (k, v) => k -> v._2 }.toMap
    // hot set: 32 groups, the size of the per-thread deserialization memo,
    // one per segment 0..31 (so every seed probes the same size mix) on a
    // seeded day
    val r = new SplittableRandom(o.seed)
    hot = (0 until 32).map(s => (s, r.nextInt(Gen.Days)))
    expectedProbe = spark.sql(s"SELECT segment, day, hll, cpc, theta, kll FROM stored WHERE " +
        s"(segment, day) IN (${hot.map { case (s, d) => s"($s,$d)" }.mkString(",")})").collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> Layers.referenceProbe(
        x.getAs[Array[Byte]](2), x.getAs[Array[Byte]](3), x.getAs[Array[Byte]](4), x.getAs[Array[Byte]](5)))
      .toMap
    hot = hot.filter(expectedProbe.contains)
    // theta set-algebra pairs by segment size rank: large-vs-small (the
    // containment case where theta estimates are weakest), mid-vs-small,
    // large-vs-large
    pairs = IndexedSeq((0, 60), (1, 75), (2, 90), (0, 45), (15, 70), (25, 85), (0, 7), (3, 12))
    val segs = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val users = spark.sql(s"SELECT DISTINCT segment, user_id FROM rows WHERE segment IN " +
        s"(${segs.mkString(",")})").collect()
      .groupBy(_.getInt(0)).map { case (s, xs) => s -> xs.map(_.getLong(1)).toSet }
    pairTruth = pairs.map { case (a, b) =>
      val (ua, ub) = (users.getOrElse(a, Set.empty[Long]), users.getOrElse(b, Set.empty[Long]))
      val inter = ua.count(ub.contains).toDouble
      val union = (ua.size + ub.size).toDouble - inter
      (a, b) -> (union, inter, ua.size - inter, if (union == 0) 0.0 else inter / union)
    }.toMap
  }

  def warmup(): Unit = {
    (0 until 2).foreach(op)
    latByKind.clear()
  }

  /** One round of the mix: a rollup, three probes and a set-algebra query,
    * each rotating through its families, groups or pairs. The round is the
    * op, so a contention burst inside one round moves one sample only. */
  def op(i: Int): Double = {
    def timed(kind: String)(body: => Unit): Unit =
      latByKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Stats.seconds(body)
    timed("rollup")((rollup _).tupled(rollups(i % rollups.size)))
    for (k <- 0 until 3) timed("probe")(probe(hot((3 * i + k) % hot.size)))
    timed("setop")(setop(pairs(i % pairs.size)))
    5.0
  }

  /** Repeats the rollups of the hash-set families, so each one's bytes are
    * compared with an earlier run of the same rollup. */
  override def finish(): Unit = rollups.take(3).foreach((rollup _).tupled)

  /** Rollup of every stored blob of one family to a coarse grain. */
  private def rollup(fam: String, grain: String): Unit = {
    val merged = fam match {
      case "hll"   => "datasketch_hll_union(12, hll)"
      case "cpc"   => "datasketch_cpc_union(11, cpc)"
      case "theta" => "datasketch_theta(theta)"
      case "kll"   => "datasketch_kll(200, kll)"
      case "fi"    => "datasketch_frequent_items(fi)"
    }
    val scalars = fam match {
      case "kll" => "datasketch_kll_n(u), 0D, 0D"
      case "fi"  => "datasketch_frequent_items_total_weight(u), 0D, 0D"
      case f     => s"datasketch_${f}_estimate(u), datasketch_${f}_lower_bound(u, 3), datasketch_${f}_upper_bound(u, 3)"
    }
    val res = t.span(s"query.rollup.$fam") {
      spark.sql(s"SELECT g, u, $scalars FROM (SELECT $grain AS g, $merged AS u FROM stored GROUP BY $grain)")
        .collect()
    }.sortBy(_.getInt(0))
    val key = s"$fam/$grain"
    // kll compaction and frequent-items purges depend on merge order, so
    // only the hash-set families must repeat byte for byte
    if (Set("hll", "cpc", "theta").contains(fam)) {
      val digest = res.toSeq.map(x => (x.getInt(0), java.util.Arrays.hashCode(x.getAs[Array[Byte]](1)))).hashCode
      checks.require("rollup_bit_identical", digests.getOrElseUpdate(key, digest) == digest, key)
    }
    for (x <- res) {
      val g = x.getInt(0)
      fam match {
        case "kll" | "fi" =>
          val n = x.get(2).asInstanceOf[Number].longValue
          checks.require("rollup_n_exact", n == countBy((grain, g)), s"$key/$g $n")
        case _ =>
          val exact = distinctBy((grain, g)).toDouble
          checks.bound(s"rollup_${fam}_3sigma", Checks.ThreeSigma, s"$grain/$g",
            x.getDouble(3) <= exact && exact <= x.getDouble(4), s"exact $exact est ${x.getDouble(2)}")
      }
      if (fam == "fi" && grain == "segment" && countBy((grain, g)) >= 5000) {
        val sk = org.apache.datasketches.frequencies.ItemsSketch.getInstance(
          org.apache.datasketches.memory.Memory.wrap(x.getAs[Array[Byte]](1)),
          new org.apache.datasketches.common.ArrayOfStringsSerDe)
        val frequent = sk.getFrequentItems(org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
          .map(_.getItem).toSet
        checks.require("rollup_heavy_hitters", Gen.heavyHitters(g).forall(frequent.contains), s"segment $g")
      }
    }
  }

  /** Point probe of one hot group: four scalars over its blobs. */
  private def probe(g: (Int, Int)): Unit = {
    val x = t.span("query.probe") {
      spark.sql(s"SELECT datasketch_hll_estimate(hll), datasketch_cpc_estimate(cpc), " +
        s"datasketch_theta_estimate(theta), datasketch_kll_quantile(kll, 0.5) FROM stored " +
        s"WHERE segment = ${g._1} AND day = ${g._2}").collect()
    }
    val got = x.headOption.map(r => (0 until 4).map(r.getDouble)).getOrElse(Nil)
    checks.require("probe_matches_reference", got == expectedProbe(g), s"$g $got vs ${expectedProbe(g)}")
  }

  /** Theta set algebra between two segments' unions. */
  private def setop(p: (Int, Int)): Unit = {
    val x = t.span("query.setop") {
      spark.sql(
        s"""SELECT datasketch_theta_estimate(datasketch_theta_union(a.s, b.s)),
           |  datasketch_theta_lower_bound(datasketch_theta_union(a.s, b.s), 3),
           |  datasketch_theta_upper_bound(datasketch_theta_union(a.s, b.s), 3),
           |  datasketch_theta_estimate(datasketch_theta_intersect(a.s, b.s)),
           |  datasketch_theta_lower_bound(datasketch_theta_intersect(a.s, b.s), 3),
           |  datasketch_theta_upper_bound(datasketch_theta_intersect(a.s, b.s), 3),
           |  datasketch_theta_estimate(datasketch_theta_a_not_b(a.s, b.s)),
           |  datasketch_theta_lower_bound(datasketch_theta_a_not_b(a.s, b.s), 3),
           |  datasketch_theta_upper_bound(datasketch_theta_a_not_b(a.s, b.s), 3),
           |  datasketch_theta_jaccard(a.s, b.s)
           |FROM (SELECT datasketch_theta(theta) AS s FROM stored WHERE segment = ${p._1}) a
           |CROSS JOIN (SELECT datasketch_theta(theta) AS s FROM stored WHERE segment = ${p._2}) b""".stripMargin)
        .collect().head
    }
    val (union, inter, aNotB, jac) = pairTruth(p)
    val key = s"${p._1}/${p._2}"
    for ((name, exact, c) <- Seq(("union", union, 0), ("intersect", inter, 3), ("a_not_b", aNotB, 6)))
      checks.bound(s"theta_${name}_3sigma", Checks.ThreeSigma, key,
        x.getDouble(c + 1) <= exact && exact <= x.getDouble(c + 2),
        s"$name exact $exact est ${x.getDouble(c)} [${x.getDouble(c + 1)}, ${x.getDouble(c + 2)}]")
    val j = x.getSeq[Double](9)
    // the jaccard bounds are a 2-sigma interval
    checks.bound("theta_jaccard_bounds", Checks.TwoSigma, key, j.head <= jac + 1e-12 && jac <= j(2) + 1e-12,
      s"jaccard exact $jac est $j")
  }

  override def report(lat: Seq[Double], items: Seq[Double]): Seq[(String, String)] = {
    val queries = latByKind.values.flatten.toSeq
    val tail = Stats.tail(queries)
    Seq(
      "queries" -> queries.size.toString,
      "queries_per_s" -> Json.num(queries.size / queries.sum),
      "query_p50_ms" -> Json.num(1e3 * Stats.median(queries)),
      "query_tail_ms" -> tail.map(x => Json.num(1e3 * x._2)).getOrElse("null"),
      "query_tail_percentile" -> tail.map(_._1.toString).getOrElse("null"),
      "query_p50_ms_by_kind" -> Json.obj(latByKind.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(1e3 * Stats.median(v.toSeq)) }))
  }

  override def close(): Unit = if (rows != null) rows.unpersist()
}
