package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One checked execution of a batch query. `seconds` covers the builder call
  * and the noop write; it is only a sample when `error` is empty.
  */
final case class Outcome(query: String, seconds: Double, rows: Long, hash: String,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Expected (rows, hash) per query, recorded at a known-good commit. */
object Expected {
  def load(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  def save(path: String, rows: Seq[Outcome]): Unit =
    Files.writeString(Paths.get(path),
      "# query\trows\thash  (sum of xxhash64 over result rows; perfbench/README.md)\n" +
        rows.sortBy(_.query).map(o => s"${o.query}\t${o.rows}\t${o.hash}").mkString("\n") + "\n")
}

object Bench {
  type Builder = (SparkSession, String) => DataFrame

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def cores: Int = Runtime.getRuntime.availableProcessors

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Logs a timing as its median plus the highest percentile that has at
    * least ten samples beyond it, with the sample count.
    */
  def logTail(what: String, xs: Seq[Double], unit: String): Unit = if (xs.nonEmpty) {
    val p = Stats.tailPercentile(xs.size)
    log(f"$what: median ${Stats.median(xs)}%.3f $unit, p$p ${Stats.quantile(xs, p / 100.0)}%.3f $unit, n=${xs.size}")
  }

  /** The session a library user gets: local[nproc], shuffle partitions =
    * nproc, UTC, no UI, Spark's defaults otherwise.
    */
  def session(tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Opens every table (file listing and parquet footer). */
  def warmTables(spark: SparkSession, data: String): Unit = {
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    graft.Tables.events(spark, data).schema
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-insensitive row hash: xxhash64 over every column (maps as JSON,
    * since Spark does not hash maps).
    */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** Builds `name` and materializes its whole result through the noop sink,
    * observing row count and hash sum during that same write. Builder and
    * action run under their own job groups so listener events can be
    * attributed to them.
    */
  def execute(spark: SparkSession, name: String, build: Builder, data: String, group: String,
      tracer: Option[Tracer] = None, parent: Long = 0L): Outcome = {
    val sc = spark.sparkContext
    def traced[T](g: String, what: String)(body: Long => T): T = {
      sc.setJobGroup(g, s"perfbench $name $what")
      try tracer.fold(body(0L))(_.span(parent, g, "operators", what)(body))
      finally sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    try {
      val df = traced(s"$group:build", "build") { span =>
        val d = build(spark, data)
        // the result's own analysis ran inside the builder call
        tracer.foreach(_.phaseSpans(d.queryExecution, span, s"$group:build"))
        d
      }
      val obs = Observation()
      traced(s"$group:action", "action") { _ =>
        df.observe(obs, count(lit(1)).as("rows"),
            sum(rowHash(df).cast(DecimalType(38, 0))).as("hash"))
          .write.format("noop").mode("overwrite").save()
      }
      val t1 = System.nanoTime()
      val m = Await.result(obs.future, 60.seconds)
      val hash = Option(m.getAs[java.math.BigDecimal]("hash")).map(_.toPlainString).getOrElse("0")
      Outcome(name, (t1 - t0) / 1e9, m.getAs[Long]("rows"), hash, None)
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(1).mkString.take(300)
        Outcome(name, (System.nanoTime() - t0) / 1e9, -1L, "", Some(msg))
    }
  }

  /** Persisted-RDD megabytes left behind by the last query, then released
    * so the next query does not pay eviction and GC for them.
    */
  def releasePersisted(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    bytes / 1048576.0
  }

  /** Checks an outcome against the recorded value; returns the failure. */
  def verdict(o: Outcome, expected: Map[String, (Long, String)]): Option[String] =
    o.error.map(e => s"${o.query}: threw $e").orElse(expected.get(o.query) match {
      case None => Some(s"${o.query}: no expected result recorded")
      case Some((rows, hash)) if rows != o.rows || hash != o.hash =>
        Some(s"${o.query}: wrong result, rows=${o.rows} hash=${o.hash} " +
          s"(expected rows=$rows hash=$hash)")
      case _ => None
    })

  /** Peak of the JVM's total used heap while it runs, sampled every 10 ms
    * on a daemon thread.
    */
  final class HeapPeak {
    @volatile private var running = true
    @volatile private var peak = 0L
    private val bean = ManagementFactory.getMemoryMXBean
    private val thread = new Thread(() => while (running) {
      peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }, "perfbench-heap-peak")
    thread.setDaemon(true)
    thread.start()

    /** Stops sampling; returns the peak in MB. */
    def stopMb(): Double = {
      running = false
      thread.join()
      peak / 1048576.0
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, seedS, secondsS, traceS, data, expectedPath, outDir, tmp) = args
    val ctx = Ctx(workload, seedS.toLong, secondsS.toInt, traceS == "1", data,
      expectedPath, outDir, tmp)
    val code =
      try mode match {
        case "run" if workload == Workloads.Stream => StreamReplay.run(ctx)
        case "run" if Workloads.batch.contains(workload) => runBatch(ctx)
        case "record" => record(ctx)
        case "countgap" => countGap(ctx)
        case _ =>
          log(s"unknown workload '$workload'; known: ${Workloads.names.mkString(", ")}")
          2
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          3
      }
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expectedPath: String, outDir: String, tmp: String) {
    lazy val expected: Map[String, (Long, String)] = Expected.load(expectedPath)
  }

  /** Sets the session up `n` times, stopping it in between, and returns the
    * last session with the median set-up time.
    */
  def setUp(n: Int, ctx: Ctx, teardown: SparkSession => Unit = _ => ())(
      prepare: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) { teardown(spark); spark.stop() }
      spark = session(ctx.tmp)
      prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    log(f"set-up ${times.map(t => f"$t%.2f").mkString(" ")} s")
    (spark, Stats.median(times))
  }

  /** Running account of checked executions. Only a checked success becomes
    * a timing sample; a throw or a wrong result is a named failure.
    */
  final class Tally(expected: Map[String, (Long, String)]) {
    var attempted = 0L
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    val samples: mutable.Map[(String, Boolean), mutable.ArrayBuffer[Double]] = mutable.Map.empty
    val leakedMb: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

    def record(o: Outcome, traced: Boolean, timed: Boolean): Unit = {
      attempted += 1
      verdict(o, expected) match {
        case Some(f) => failures += f; log(s"FAILED $f")
        case None if timed =>
          samples.getOrElseUpdate((o.query, traced), mutable.ArrayBuffer.empty) += o.seconds
        case None =>
      }
    }

    def medians(traced: Boolean): Map[String, Double] = samples.collect {
      case ((q, t), xs) if t == traced && xs.nonEmpty => q -> Stats.median(xs.toSeq)
    }.toMap

    /** Sum of per-query minimum times: the basis of the tracing-overhead
      * ratio, which must not depend on which kind of pass ran first.
      */
    def minSum(traced: Boolean): Double = samples.collect {
      case ((_, t), xs) if t == traced && xs.nonEmpty => xs.min
    }.sum
  }

  /** One pass over `queries` in the seed's order for pass `p`. */
  def runPass(spark: SparkSession, ctx: Ctx, queries: Seq[String], p: Int, tally: Tally,
      tracer: Option[Tracer], timed: Boolean,
      resolve: String => Builder = graft.SparkEntry.queries): Unit = {
    def body(passSpan: Long): Unit = Workloads.order(queries, ctx.seed, p).foreach { q =>
      // start every query on a collected heap, so one query's garbage is not
      // collected on the next one's clock
      System.gc()
      val o = execute(spark, q, resolve(q), ctx.data, s"p$p:$q", tracer, passSpan)
      val leak = releasePersisted(spark)
      if (tracer.isDefined) tally.leakedMb += leak
      tally.record(o, tracer.isDefined, timed)
    }
    tracer match {
      case Some(t) =>
        t.attach(spark)
        try t.span(0L, "", "harness", s"pass $p")(body)
        finally t.detach(spark)
      case None => body(0L)
    }
  }

  /** Timed passes an untraced run makes at the least, whatever `--seconds`
    * says. The first pass after the warm-up can still run up to about a
    * third slower than the third pass while the JIT finishes compiling, so
    * each query's median rests on three samples and leaves that one out.
    */
  val MinTimedPasses = 3

  def runBatch(ctx: Ctx): Int = {
    val queries = Workloads.batch(ctx.workload)
    val (spark, setupS) = setUp(3, ctx)(warmTables(_, ctx.data))
    val tally = new Tally(ctx.expected)
    // untimed warm-up pass, checked like every timed one
    val tw = System.nanoTime()
    runPass(spark, ctx, queries, -1, tally, None, timed = false)
    val warmupS = (System.nanoTime() - tw) / 1e9
    log(f"warm-up pass $warmupS%.2f s")

    val tracer = if (ctx.trace) Some(new Tracer) else None
    val heap = new HeapPeak
    val t0 = System.nanoTime()
    var pass = 0
    // with tracing, passes alternate traced / untraced, and the traced pass
    // goes first, so warming up cannot hide its overhead
    val minPasses = if (ctx.trace) 2 else MinTimedPasses
    while (pass < minPasses || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val tp = System.nanoTime()
      runPass(spark, ctx, queries, pass, tally,
        if (ctx.trace && pass % 2 == 0) tracer else None, timed = true)
      log(f"pass $pass ${(System.nanoTime() - tp) / 1e9}%.2f s")
      pass += 1
    }
    val heapPeakMb = heap.stopMb()
    log(s"$pass timed passes")

    val untraced = tally.medians(false)
    val complete = untraced.size == queries.size
    val metrics = mutable.ArrayBuffer.empty[Metric]
    if (!ctx.trace) {
      if (complete) {
        metrics += Metric("setup_s", setupS, "s")
        metrics += Metric("suite_s", untraced.values.sum, "s")
        metrics += Metric("query_geomean_s", Stats.geomean(untraced.values.toSeq), "s")
      }
      untraced.toSeq.sortBy(_._1).foreach { case (q, m) =>
        log(f"  $q%-24s median $m%.3f s over ${tally.samples((q, false)).size} samples")
      }
      logTail("query execution", tally.samples.collect { case ((_, false), xs) => xs }.flatten.toSeq, "s")
    } else {
      val traced = tally.medians(true)
      val t = tracer.get
      val tracedPasses = (pass + 1) / 2
      if (complete && traced.size == queries.size) {
        metrics ++= Layer.batchMetrics(t.linked, tracedPasses, traced.values.sum,
          tally.leakedMb.sum / tracedPasses)
        metrics += Metric("trace.overhead_ratio", tally.minSum(true) / tally.minSum(false), "ratio")
        metrics ++= Probes.all(spark, ctx, queries, traced)
        metrics += Metric("harness.warmup_s", warmupS, "s")
        metrics += Metric("jvm.heap_peak_mb", heapPeakMb, "MB")
      }
      t.write(Paths.get(ctx.outDir, s"trace_${ctx.workload}_${ctx.seed}.json"))
    }
    finish(ctx, metrics.toSeq, tally.attempted, tally.failures.toSeq,
      tally.samples.values.map(_.size).sum)
  }

  /** Prints the result line (the last line of stdout) and returns the exit
    * code: non-zero when anything failed or a metric is missing.
    */
  def finish(ctx: Ctx, metrics: Seq[Metric], attempted: Long, failures: Seq[String],
      samples: Long): Int = {
    val withCounts =
      if (ctx.trace && metrics.nonEmpty)
        metrics ++ Seq(Metric("failed_frac", failures.size.toDouble / attempted, "ratio"),
          Metric("harness.samples", samples.toDouble, "count"))
      else metrics
    val catalogue = if (ctx.trace) Catalogue.perLayer else Catalogue.endToEnd
    val missing = catalogue.map(_._1).diff(withCounts.map(_.name))
    val extra = withCounts.map(_.name).diff(catalogue.map(_._1))
    require(extra.isEmpty, s"metrics outside the catalogue: ${extra.mkString(", ")}")
    val ordered = catalogue.flatMap { case (n, _) => withCounts.find(_.name == n) }
    failures.foreach(f => log(s"failure: $f"))
    if (missing.nonEmpty && failures.isEmpty) log(s"missing metrics: ${missing.mkString(", ")}")
    val correct = failures.isEmpty && missing.isEmpty
    println(Json.resultLine(correct, math.max(attempted, 1L), failures.size, ordered))
    if (correct) 0 else 1
  }

  /** Records expected.tsv: every batch query of every workload, executed
    * twice (the second must agree with the first).
    */
  def record(ctx: Ctx): Int = {
    val spark = session(ctx.tmp)
    warmTables(spark, ctx.data)
    val all = Workloads.batch.values.flatten.toSeq.distinct.sorted
    val outcomes = all.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val a = execute(spark, q, fn, ctx.data, s"record:$q"); releasePersisted(spark)
      val b = execute(spark, q, fn, ctx.data, s"record2:$q"); releasePersisted(spark)
      require(a.ok && b.ok, s"$q failed: ${a.error.orElse(b.error).get}")
      require(a.rows == b.rows && a.hash == b.hash, s"$q is not deterministic")
      log(s"$q rows=${a.rows} hash=${a.hash}")
      a
    }
    Expected.save(ctx.expectedPath, outcomes)
    0
  }

  /** Times `count()` against the full noop write for each query of the
    * workload, or of `SparkEntry.benchQueries` for workload `bench` (median
    * of 3 each, after one warm-up of both).
    */
  def countGap(ctx: Ctx): Int = {
    val spark = session(ctx.tmp)
    warmTables(spark, ctx.data)
    val queries =
      if (ctx.workload == "bench") graft.SparkEntry.benchQueries else Workloads.batch(ctx.workload)
    def time(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime(); body
      val t = (System.nanoTime() - t0) / 1e9
      releasePersisted(spark)
      t
    }
    queries.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      def cnt(): Unit = fn(spark, ctx.data).count()
      def noop(): Unit = fn(spark, ctx.data).write.format("noop").mode("overwrite").save()
      time(cnt()); time(noop())
      val c = Stats.median((1 to 3).map(_ => time(cnt())))
      val n = Stats.median((1 to 3).map(_ => time(noop())))
      println(f"$q%-24s count() $c%.3f s  noop $n%.3f s  ratio ${n / c}%.2f")
    }
    0
  }
}
