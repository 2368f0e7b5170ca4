package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Every metric the benchmark emits, with its unit. `--trace 0` prints all
  * of `endToEnd`, `--trace 1` all of `perLayer`, on every workload.
  */
object Catalogue {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "suite_s" -> "s", "query_geomean_s" -> "s")

  val kernels: Seq[String] = Seq("haversine", "vincenty", "minhash", "simhash", "winnow",
    "char_windows", "png_decode", "phash", "cnn_logits")

  val perLayer: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.action_s" -> "s",
    "operators.leaked_persist_mb" -> "MB", "operators.self_s" -> "s",
    "catalyst.executions" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "catalyst.self_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.max_task_s" -> "s", "exec.parallel_eff" -> "ratio", "exec.self_s" -> "s",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B", "shuffle.spill_bytes" -> "B") ++
    kernels.map(k => s"functions.${k}_ns" -> "ns") ++ Seq(
    "sources.decode_s" -> "s",
    "streaming.events_per_s" -> "1/s", "streaming.batch_p50_ms" -> "ms",
    "streaming.batch_p90_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB",
    "streaming.state_rows_updated" -> "count", "streaming.rows_out" -> "count",
    "trace.overhead_ratio" -> "ratio", "harness.warmup_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "harness.samples" -> "count", "failed_frac" -> "ratio")
}

/** Per-layer figures of a traced run, from its spans. Values are per traced
  * pass (batch) or per traced round (stream).
  */
object Layer {
  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover, summed by the span's layer.
    */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.ms - covered).toDouble
      }.sum
    }
  }

  def batchMetrics(spans0: Seq[Span], passes: Int, wallPerPassS: Double,
      leakedMbPerPass: Double, buildS: Option[Double] = None): Seq[Metric] = {
    val spans = spans0.filterNot(_.group.startsWith("perfbench-barrier"))
    val n = passes.toDouble
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def sumMs(ss: Seq[Span]) = ss.map(_.ms).sum.toDouble
    val stages = named("exec", "stage")
    def stageSum(k: String) = stages.map(_.counts.getOrElse(k, 0.0)).sum
    val self = selfTimeMs(spans)
    val taskS = stageSum("task_s") / n
    Seq(
      Metric("operators.build_s",
        buildS.getOrElse(sumMs(named("operators", "build")) / 1000.0 / n), "s"),
      Metric("operators.action_s", sumMs(named("operators", "action")) / 1000.0 / n, "s"),
      Metric("operators.leaked_persist_mb", leakedMbPerPass, "MB"),
      Metric("operators.self_s", self.getOrElse("operators", 0.0) / 1000.0 / n, "s"),
      Metric("catalyst.executions", named("exec", "sql_execution").size / n, "count"),
      Metric("catalyst.analysis_ms", sumMs(named("catalyst", "analysis")) / n, "ms"),
      Metric("catalyst.optimization_ms", sumMs(named("catalyst", "optimization")) / n, "ms"),
      Metric("catalyst.planning_ms", sumMs(named("catalyst", "planning")) / n, "ms"),
      Metric("catalyst.self_s", self.getOrElse("catalyst", 0.0) / 1000.0 / n, "s"),
      Metric("exec.jobs", named("exec", "job").size / n, "count"),
      Metric("exec.stages", stages.size / n, "count"),
      Metric("exec.tasks", stageSum("tasks") / n, "count"),
      Metric("exec.task_s", taskS, "s"),
      Metric("exec.task_cpu_s", stageSum("task_cpu_s") / n, "s"),
      Metric("exec.gc_s", stageSum("gc_s") / n, "s"),
      Metric("exec.max_task_s", (0.0 +: stages.map(_.counts.getOrElse("max_task_s", 0.0))).max, "s"),
      Metric("exec.parallel_eff", taskS / (wallPerPassS * Bench.cores), "ratio"),
      Metric("exec.self_s", self.getOrElse("exec", 0.0) / 1000.0 / n, "s"),
      Metric("shuffle.write_bytes", stageSum("shuffle_write_bytes") / n, "B"),
      Metric("shuffle.read_bytes", stageSum("shuffle_read_bytes") / n, "B"),
      Metric("shuffle.spill_bytes", stageSum("spill_bytes") / n, "B"))
  }
}

/** Layer figures a workload does not exercise itself, measured on the side
  * in its traced run so that every workload reports every layer.
  */
object Probes {

  /** Nanoseconds per call of graft's per-row kernels, by direct calls on
    * seeded inputs: median of five timed rounds after two warm-up rounds.
    */
  def functions(seed: Long): Seq[Metric] = {
    import graft.functions._
    val rng = new scala.util.Random(seed)
    val coords = Array.fill(4096)(rng.nextDouble() * 140 - 70)
    val words = Seq("spark", "window", "merge", "table", "stream", "value", "join", "sort")
    val texts = Array.fill(64)(UTF8String.fromString(
      Seq.fill(40 + rng.nextInt(40))(words(rng.nextInt(words.size))).mkString(" ")))
    val imgs = Array.tabulate(16)(i => ImageCodec.syntheticImage(rng.nextInt(1000).toLong, 32, 32))
    val pngs = imgs.map(ImageCodec.toPng)
    val tiles = imgs.map(ImageCodec.cnnTile8)
    var sink = 0L
    def ns(calls: Int)(call: Int => Long): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += call(i); i += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }
      once(); once()
      Stats.median(Seq.fill(5)(once()))
    }
    def c(i: Int) = coords(i & 4095)
    val res = Seq(
      ns(200000)(i => GeoMath.haversineKm(c(i), c(i + 1), c(i + 2), c(i + 3)).toLong),
      ns(20000)(i => GeoMath.vincentyKm(c(i), c(i + 1), c(i + 2), c(i + 3)).toLong),
      ns(400)(i => TextHashKernels.minhash(texts(i & 63), 20, 4, 32).numElements()),
      ns(2000)(i => TextHashKernels.simhash64(texts(i & 63))),
      ns(1000)(i => TextHashKernels.winnow(texts(i & 63), 20, 5).numElements()),
      ns(2000)(i => ByteKernels.charWindows(texts(i & 63), 16, 16).numElements()),
      ns(200)(i => ImageCodec.decode(pngs(i & 15)).getWidth),
      ns(200)(i => ImageCodec.phash64(imgs(i & 15))),
      ns(100)(i => Onnx.smokeCnnLogits(tiles(i & 15)).length))
    if (sink == 42) Bench.log("") // keeps the calls observable
    Catalogue.kernels.zip(res).map { case (k, v) => Metric(s"functions.${k}_ns", v, "ns") }
  }

  /** Seconds per pass of graft's decoder queries: the sum of their median
    * times over three checked executions each.
    */
  def sources(spark: SparkSession, ctx: Bench.Ctx): Metric = {
    val t = Workloads.sourceQueries.map { q =>
      Stats.median((0 until 3).map { i =>
        val o = Bench.execute(spark, q, graft.SparkEntry.queries(q), ctx.data, s"probe$i:$q")
        Bench.verdict(o, ctx.expected).foreach(f => throw new IllegalStateException(f))
        o.seconds
      })
    }.sum
    Metric("sources.decode_s", t, "s")
  }

  /** The probes a batch workload needs; `traced` holds the workload's own
    * per-query medians from its traced passes.
    */
  def all(spark: SparkSession, ctx: Bench.Ctx, queries: Seq[String],
      traced: Map[String, Double]): Seq[Metric] = {
    val src =
      if (Workloads.sourceQueries.forall(queries.contains))
        Metric("sources.decode_s", Workloads.sourceQueries.map(traced).sum, "s")
      else sources(spark, ctx)
    functions(ctx.seed) ++ Seq(src) ++ StreamReplay.probe(spark, ctx)
  }
}
