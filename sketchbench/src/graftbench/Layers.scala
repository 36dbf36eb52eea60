package graftbench

import org.apache.datasketches.cpc.CpcSketch
import org.apache.datasketches.hll.HllSketch
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.theta.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.BinaryType

import graft.sketch._
import graft.sketch.Kit.ElemType

/** The per-layer metrics of a traced run and the probes that measure the
  * sketch primitives. */
object Layers {
  val SketchFamilies = Seq("hll", "cpc", "theta", "kll", "req", "tdigest", "frequent_items")
  val Kernels = Seq("shingle_set", "minhash_sig", "simhash64", "token_stats", "fingerprint")
  val BatchStages = Seq("exact_dup", "span", "near_dup", "semantic", "quota")
  val IncrementalStages = Seq("exact_vs_history", "cross_span", "cross_near_dup", "cross_semantic")

  /** Every per-layer metric a traced run reports, with its unit. A metric of
    * a layer the workload does not exercise reads 0. */
  val all: Seq[(String, String)] =
    SketchFamilies.map(f => s"sketch.build_mrows_per_s.$f" -> "Mrows/s") ++
      Seq("hll", "theta", "kll").map(f => s"sketch.builtin_mrows_per_s.$f" -> "Mrows/s") ++
      Seq("serialize", "deserialize", "merge").flatMap(p =>
        SketchFamilies.map(f => s"sketch.${p}_us.$f" -> "us")) ++
      Seq("sketch.probe_hot_us" -> "us", "sketch.probe_cold_us" -> "us",
        "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms") ++
      Kernels.map(k => s"operators.docs_per_s.$k" -> "docs/s") ++
      (BatchStages ++ IncrementalStages).map(s => s"pipeline.stage_s.$s" -> "s") ++
      Seq("pipeline.construct_s" -> "s", "pipeline.assemble_s" -> "s",
        "pipeline.checkpoint_jobs" -> "count",
        "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
        "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
        "engine.jobs" -> "count", "engine.tasks" -> "count", "engine.job_wall_s" -> "s",
        "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s",
        "engine.task_overhead_s" -> "s", "engine.idle_core_frac" -> "fraction",
        "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB",
        "engine.fetch_wait_s" -> "s", "engine.spill_mb" -> "MB", "engine.result_mb" -> "MB")

  /** Wall seconds of `body`, which runs inside a span of that name. */
  def timeSpan(t: Tracer, name: String)(body: => Unit): Double = Stats.seconds(t.span(name)(body))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One GROUP BY (segment, day) per family over the rows, graft's
    * aggregates and Spark's built-in ones, in million rows per second. */
  def builds(spark: SparkSession, t: Tracer, nRows: Long): Seq[(String, Double, String)] = {
    val graft = Seq(
      "hll" -> "datasketch_hll(12, user_id)", "cpc" -> "datasketch_cpc(11, user_id)",
      "theta" -> "datasketch_theta(12, user_id)", "kll" -> "datasketch_kll(200, value)",
      "req" -> "datasketch_req(12, value)", "tdigest" -> "datasketch_tdigest(100, value)",
      "frequent_items" -> "datasketch_frequent_items(10, item)")
    val builtin = Seq("hll" -> "hll_sketch_agg(user_id, 12)",
      "theta" -> "theta_sketch_agg(user_id, 12)", "kll" -> "kll_sketch_agg_double(value, 200)")
    def rate(name: String, agg: String): Double = {
      val q = spark.sql(s"SELECT segment, day, $agg AS s FROM rows GROUP BY segment, day")
      noop(q) // plan and code warm
      val s = Seq.fill(2)(timeSpan(t, name)(noop(q)))
      nRows / Stats.median(s) / 1e6
    }
    graft.map { case (f, a) => (s"sketch.build_mrows_per_s.$f", rate(s"sketch.build.$f", a), "Mrows/s") } ++
      builtin.map { case (f, a) => (s"sketch.builtin_mrows_per_s.$f", rate(s"sketch.builtin.$f", a), "Mrows/s") }
  }

  private def binRef(i: Int): Expression = BoundReference(i, BinaryType, nullable = true)

  /** The merge-side aggregate of each family, whose serialize, deserialize
    * and merge the shuffle of partial buffers runs. */
  private def aggregates: Seq[(String, TypedImperativeAggregate[_ <: AnyRef])] = Seq(
    "hll" -> HllUnionAgg(12, binRef(0)), "cpc" -> CpcUnionAgg(11, binRef(0)),
    "theta" -> ThetaAgg(12, binRef(0)), "kll" -> KllAgg(200, binRef(0), ElemType.Dbl),
    "req" -> ReqAgg(12, binRef(0)), "tdigest" -> TDigestAgg(100, binRef(0)),
    "frequent_items" -> FreqItemsAgg(10, binRef(0)))

  /** Microseconds per call of `f` over the inputs, cycled for ~`budgetS`. */
  private def perCall[A](inputs: IndexedSeq[A], budgetS: Double)(f: A => Any): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    val end = t0 + (budgetS * 1e9).toLong
    while (n < inputs.length || System.nanoTime() < end) {
      f(inputs((n % inputs.length).toInt))
      n += 1
    }
    (System.nanoTime() - t0) / 1e3 / n
  }

  /** serialize / deserialize / merge microseconds per call on the stored
    * blobs of each family. */
  def sketchPrimitives(spark: SparkSession, t: Tracer, tablePath: String): Seq[(String, Double, String)] = {
    val cols = Map("hll" -> "hll", "cpc" -> "cpc", "theta" -> "theta", "kll" -> "kll", "req" -> "req",
      "tdigest" -> "tdigest", "frequent_items" -> "fi")
    val stored = spark.read.parquet(tablePath).orderBy("segment", "day").limit(512)
      .select(SketchFamilies.map(f => org.apache.spark.sql.functions.col(cols(f))): _*).collect()
    aggregates.flatMap { case (f, agg) =>
      val blobs = stored.map(_.getAs[Array[Byte]](SketchFamilies.indexOf(f))).filter(_ != null).toIndexedSeq
      primitive(t, f, agg, blobs)
    }
  }

  private def primitive[B <: AnyRef](t: Tracer, f: String, agg: TypedImperativeAggregate[B],
                                     blobs: IndexedSeq[Array[Byte]]): Seq[(String, Double, String)] = {
    // warm the three paths before timing them
    val bufs = blobs.map(agg.deserialize)
    bufs.foreach(agg.serialize)
    val deser = t.span(s"sketch.deserialize.$f")(perCall(blobs, 0.15)(agg.deserialize))
    val ser = t.span(s"sketch.serialize.$f")(perCall(bufs, 0.15)(agg.serialize))
    var acc = agg.createAggregationBuffer()
    val merge = t.span(s"sketch.merge.$f")(perCall(bufs, 0.15) { b =>
      acc = agg.merge(acc, b); acc
    })
    Seq((s"sketch.serialize_us.$f", ser, "us"), (s"sketch.deserialize_us.$f", deser, "us"),
      (s"sketch.merge_us.$f", merge, "us"))
  }

  /** The four probe scalars of the query workload, evaluated through the
    * registered SQL functions on one group's hll, cpc, theta and kll blobs:
    * microseconds per group over a hot set of 32 groups (fits the per-thread
    * deserialization memo) and over 2048 distinct groups (does not). The
    * hot set is every 64th of the 2048, so both see the same blob sizes. */
  def probes(spark: SparkSession, t: Tracer, tablePath: String): Seq[(String, Double, String)] = {
    val reg = spark.sessionState.functionRegistry
    def fn(name: String, args: Expression*) = reg.lookupFunction(FunctionIdentifier(name), args)
    val exprs = Seq(fn("datasketch_hll_estimate", binRef(0)), fn("datasketch_cpc_estimate", binRef(1)),
      fn("datasketch_theta_estimate", binRef(2)), fn("datasketch_kll_quantile", binRef(3), Literal(0.5)))
    val groups = spark.read.parquet(tablePath).select("hll", "cpc", "theta", "kll").limit(2048).collect()
      .map(r => (0 until 4).map(r.getAs[Array[Byte]])).toIndexedSeq
    // Spark hands each row a fresh copy of the blob; so does the probe
    def probeGroup(g: IndexedSeq[Array[Byte]]): Any = {
      val row = InternalRow(g.map(_.clone()): _*)
      exprs.foreach(_.eval(row)); row
    }
    val hot = groups.indices.filter(_ % 64 == 0).map(groups)
    perCall(groups, 0.1)(probeGroup)
    val hotUs = t.span("sketch.probe_hot")(perCall(hot, 0.3)(probeGroup))
    val coldUs = t.span("sketch.probe_cold")(perCall(groups, 0.3)(probeGroup))
    Seq(("sketch.probe_hot_us", hotUs, "us"), ("sketch.probe_cold_us", coldUs, "us"))
  }

  /** The probe answers computed with the datasketches library directly. */
  def referenceProbe(hll: Array[Byte], cpc: Array[Byte], theta: Array[Byte], kll: Array[Byte]): Seq[Double] =
    Seq(HllSketch.heapify(Memory.wrap(hll)).getEstimate,
      CpcSketch.heapify(Memory.wrap(cpc)).getEstimate,
      Sketches.wrapSketch(Memory.wrap(theta)).getEstimate,
      KllDoublesSketch.heapify(Memory.wrap(kll)).getQuantile(0.5, QuantileSearchCriteria.INCLUSIVE))
}

/** Interop with Spark's built-in DataSketches functions, both ways: each
  * side's probes must read the other side's blobs to the same estimate the
  * owner reads. */
object Interop {
  def check(spark: SparkSession, checks: Checks): Unit = {
    val rows = spark.sql(
      """SELECT segment,
        |  hll_sketch_estimate(g_hll), datasketch_hll_estimate(g_hll),
        |  hll_sketch_estimate(b_hll), datasketch_hll_estimate(b_hll),
        |  theta_sketch_estimate(g_theta), datasketch_theta_estimate(g_theta),
        |  theta_sketch_estimate(b_theta), datasketch_theta_estimate(b_theta),
        |  kll_sketch_get_quantile_double(g_kll, 0.5D), datasketch_kll_quantile(g_kll, 0.5D),
        |  kll_sketch_get_quantile_double(b_kll, 0.5D), datasketch_kll_quantile(b_kll, 0.5D)
        |FROM (SELECT segment,
        |  datasketch_hll(12, user_id) AS g_hll, hll_sketch_agg(user_id, 12) AS b_hll,
        |  datasketch_theta(12, user_id) AS g_theta, theta_sketch_agg(user_id, 12) AS b_theta,
        |  datasketch_kll(200, value) AS g_kll, kll_sketch_agg_double(value, 200) AS b_kll
        |  FROM rows GROUP BY segment)""".stripMargin).collect()
    checks.require("interop_rows", rows.length > 0, "no segments")
    // Spark's hll/theta estimates are BIGINT (the rounded estimate)
    for (x <- rows; (fam, c) <- Seq("hll" -> 1, "theta" -> 5, "kll" -> 9)) {
      val v = (c until c + 4).map(i => x.get(i).asInstanceOf[Number].doubleValue)
      def same(builtin: Double, graft: Double) =
        if (fam == "kll") builtin == graft else builtin == math.round(graft).toDouble
      checks.require(s"interop_$fam", same(v(0), v(1)) && same(v(2), v(3)),
        s"segment ${x.getInt(0)}: builtin/graft read graft blob ${v(0)}/${v(1)}, builtin blob ${v(2)}/${v(3)}")
    }
  }
}
