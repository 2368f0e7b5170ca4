package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.DecimalType

import graft.streaming.Streams
import graft.streaming.Streams.Ev

/** The `stream_replay` workload: a seeded `Streams.Ev` feed replayed in a
  * closed loop through `MemoryStream`, one fixed-size micro-batch at a time,
  * into six monitors from `graft.streaming.Streams`. A batch's latency runs
  * from `addData` to `processAllAvailable` returning, per monitor.
  */
object StreamReplay {

  /** Feed shape. Event times advance `meanGapSec` per event on average; a
    * share `outOfOrder` of events is stamped up to `maxDelaySec` earlier
    * (inside every monitor's watermark), and a share `duplicates` is
    * re-delivered up to 500 events later (at-least-once delivery).
    */
  final case class FeedConfig(events: Int, batch: Int, entities: Int, zipf: Double,
      meanGapSec: Int, outOfOrder: Double, maxDelaySec: Int, duplicates: Double)

  /** At 10 s per event one 1000-event micro-batch spans about 2.8 h of event
    * time, more than the 2 h watermarks plus the 30 min session gap. So from
    * the warm-up round on, every round closes sessions and windows, emits
    * the append-mode rows and evicts watermark state. A re-delivered event
    * trails its first copy by at most about 5000 s plus 20 min, which stays
    * inside the watermark, so no event is dropped as late.
    */
  val Replay: FeedConfig = FeedConfig(events = 80000, batch = 1000, entities = 500,
    zipf = 1.1, meanGapSec = 10, outOfOrder = 0.05, maxDelaySec = 1200, duplicates = 0.02)

  /** Untimed rounds before timing starts. In traced runs a second, fresh
    * set of monitors replays them and must produce identical outputs.
    */
  val WarmupRounds = 1

  /** The small replay a batch workload's traced run uses as its streaming
    * probe: the warm-up rounds and one more.
    */
  val Probe: FeedConfig = Replay.copy(events = (WarmupRounds + 1) * Replay.batch)

  /** Timed rounds an untraced run makes at the least, whatever `--seconds`
    * says. Micro-batch latency still falls for about three rounds after the
    * warm-up as the JIT settles, so each monitor's median rests on four
    * micro-batches and the first, slowest one cannot move it.
    */
  val MinTimedRounds = 4

  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")

  /** Generates the feed in arrival order; the same seed gives the same feed. */
  def feed(cfg: FeedConfig, seed: Long): Array[Ev] = {
    val rng = new scala.util.Random(seed)
    val weights = (1 to cfg.entities).map(k => 1.0 / math.pow(k, cfg.zipf))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    val ids = rng.shuffle((0 until cfg.entities).map(_.toLong)).toArray // hot keys spread out
    def entity(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      ids(math.min(if (i >= 0) i else -i - 1, cfg.entities - 1))
    }
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    var t = t0
    val base = (0 until cfg.events).map { i =>
      t += rng.nextInt(2 * cfg.meanGapSec + 1)
      val ts = if (rng.nextDouble() < cfg.outOfOrder) t - 1 - rng.nextInt(cfg.maxDelaySec) else t
      val value = math.rint(-50.0 * math.log(1.0 - rng.nextDouble()) * 100.0) / 100.0
      Ev(i.toLong, ts, entity(), EventTypes(rng.nextInt(EventTypes.length)), value)
    }
    val dups = base.zipWithIndex.collect {
      case (e, i) if rng.nextDouble() < cfg.duplicates => (i + 1.5 + rng.nextInt(500), e)
    }
    (base.zipWithIndex.map { case (e, i) => (i.toDouble, e) } ++ dups)
      .sortBy(_._1).map(_._2).take(cfg.events).toArray
  }

  def feedHash(evs: Array[Ev]): Int = scala.util.hashing.MurmurHash3.arrayHash(evs)

  final case class Monitor(name: String, mode: OutputMode,
      build: MemoryStream[Ev] => DataFrame, keyed: Boolean = false)

  val Monitors: Seq[Monitor] = Seq(
    Monitor("latest_state", OutputMode.Update(),
      m => Streams.latestState(m.toDS()).toDF(), keyed = true),
    Monitor("dedup", OutputMode.Append(), m => Streams.dedupStream(m.toDF())),
    Monitor("windowed_agg", OutputMode.Update(), m => Streams.windowedAgg(m.toDF())),
    Monitor("sessions", OutputMode.Append(), m => Streams.sessionStream(m.toDF())),
    Monitor("threshold_alarm", OutputMode.Append(),
      m => Streams.thresholdAlarm(m.toDS(), threshold = 90.0).toDF()),
    Monitor("topk_user", OutputMode.Update(),
      m => Streams.topkStream(m.toDS(), keyOf = e => java.lang.Long.toString(e.user_id),
        itemOf = _.event_id).toDF()))

  /** Sink state of one monitor: output rows and the sum of their row hashes;
    * for the keyed latest-state store also the last emitted row per key.
    */
  final class Sink {
    val rows = new AtomicLong(0)
    val hash = new AtomicReference[BigInt](BigInt(0))
    val latest = new ConcurrentHashMap[Long, Long]()
    def snapshot: (Long, BigInt) = (rows.get, hash.get)
  }

  final class Running(val mon: Monitor, val mem: MemoryStream[Ev], val query: StreamingQuery,
      val sink: Sink, val buildS: Double) {
    var lastBatch: Long = -1L
    val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty
    def pollProgress(): Unit = query.recentProgress.filter(_.batchId > lastBatch).foreach { p =>
      progress += p; lastBatch = p.batchId
    }
  }

  def start(spark: SparkSession, mon: Monitor, tmp: String): Running = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sink = new Sink
    val t0 = System.nanoTime()
    val mem = MemoryStream[Ev]
    val out = mon.build(mem)
    val buildS = (System.nanoTime() - t0) / 1e9
    val q = out.writeStream
      .outputMode(mon.mode)
      .option("checkpointLocation", s"$tmp/checkpoints/${mon.name}-${java.util.UUID.randomUUID()}")
      .foreachBatch { (df: Dataset[Row], _: Long) =>
        val h = Bench.rowHash(df).cast(DecimalType(38, 0))
        val rows = (if (mon.keyed) df.select(col("user_id"), h) else df.select(lit(0L), h)).collect()
        var s = BigInt(0)
        rows.foreach { r =>
          val rh = BigInt(r.getDecimal(1).toBigInteger)
          s += rh
          if (mon.keyed) sink.latest.put(r.getLong(0), rh.toLong)
        }
        sink.rows.addAndGet(rows.length)
        sink.hash.updateAndGet(_ + s)
        ()
      }
      .start()
    new Running(mon, mem, q, sink, buildS)
  }

  /** One round: the chunk goes to every monitor in turn. Returns per-monitor
    * latency (ms) and output delta, or the failure.
    */
  def round(spark: SparkSession, ms: Seq[Running], chunk: Seq[Ev], r: Int,
      tracer: Option[Tracer]): Seq[Either[String, (Double, (Long, BigInt))]] = ms.map { m =>
    val before = m.sink.snapshot
    val t0 = System.nanoTime()
    try {
      def body(): Unit = { m.mem.addData(chunk); m.query.processAllAvailable() }
      tracer match {
        case Some(t) => t.span(0L, m.query.runId.toString, "operators", "action")(_ => body())
        case None => body()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val after = m.sink.snapshot
      m.pollProgress()
      Right((ms, (after._1 - before._1, after._2 - before._2)))
    } catch {
      case e: Throwable => Left(s"${m.mon.name} round $r: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
    }
  }

  /** Output of a finished replay plus everything measured during it. */
  final case class Replayed(rounds: Int, latencies: Map[(String, Boolean), Seq[Double]],
      running: Seq[Running], failures: Seq[String], attempted: Long)

  /** Replays rounds `from` until the time is up (or the feed ends). With a
    * tracer, every other round runs traced, starting with the first; the
    * map key says which.
    */
  def replay(spark: SparkSession, running: Seq[Running], chunks: Array[Array[Ev]], from: Int,
      seconds: Double, minRounds: Int, tracer: Option[Tracer]): Replayed = {
    val lat = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var r = from
    val t0 = System.nanoTime()
    while (r < chunks.length && failures.isEmpty &&
        (r - from < minRounds || System.nanoTime() - t0 < seconds * 1e9)) {
      val traced = tracer.isDefined && (r - from) % 2 == 0
      val tr = if (traced) tracer else None
      tr.foreach(_.attach(spark))
      round(spark, running, chunks(r).toSeq, r, tr).zip(running).foreach {
        case (Right((ms, _)), m) =>
          attempted += 1
          lat.getOrElseUpdate((m.mon.name, traced), mutable.ArrayBuffer.empty) += ms
        case (Left(f), _) => attempted += 1; failures += f
      }
      tr.foreach(_.detach(spark))
      r += 1
    }
    running.foreach(_.pollProgress())
    tracer.foreach(microBatchSpans(_, running))
    Replayed(r, lat.view.mapValues(_.toSeq).toMap, running, failures.toSeq, attempted)
  }

  /** One span per micro-batch that ran inside a traced round, under that
    * round's action span, with the phases of `StreamingQueryProgress.durationMs`
    * as its children (laid end to end from the trigger start).
    */
  def microBatchSpans(t: Tracer, running: Seq[Running]): Unit = {
    val actions = t.all.filter(s => s.layer == "operators" && s.name == "action")
    running.foreach { m =>
      val mine = actions.filter(_.group == m.query.runId.toString)
      m.progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        mine.find(a => a.startMs <= start && start <= a.endMs).foreach { a =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          val id = t.newId()
          t.add(Span(id, a.id, a.group, "streaming", "micro_batch", start,
            start + d.getOrElse("triggerExecution", 0L),
            Map("input_rows" -> p.numInputRows.toDouble, "batch_id" -> p.batchId.toDouble)))
          var at = start
          val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets")
          d.toSeq.filter(_._1 != "triggerExecution")
            .sortBy { case (k, _) => (order.indexOf(k) match { case -1 => order.size; case i => i }, k) }
            .foreach { case (k, ms) =>
            t.add(Span(t.newId(), id, a.group, "streaming", k, at, at + ms)); at += ms
          }
        }
      }
    }
  }

  /** Checks the latest-state store and the dedup output against batch
    * DataFrames computed by the same `Streams` functions over the replayed
    * prefix of the feed.
    */
  def batchTwinFailures(spark: SparkSession, running: Seq[Running], prefix: Seq[Ev]): Seq[String] = {
    import spark.implicits._
    def hashSum(df: DataFrame): BigInt = Option(
      df.agg(sum(Bench.rowHash(df).cast(DecimalType(38, 0)))).head().getDecimal(0))
      .map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    val ds = spark.createDataset(prefix)
    running.flatMap { m =>
      m.mon.name match {
        case "latest_state" =>
          val want = hashSum(Streams.latestState(ds).toDF())
          val got = m.sink.latest.values.asScala.map(BigInt(_)).sum
          val n = Streams.latestState(ds).count()
          if (want == got && n == m.sink.latest.size) None
          else Some(s"latest_state: final store differs from the batch twin " +
            s"(${m.sink.latest.size} keys vs $n)")
        case "dedup" =>
          // the batch form of dropDuplicatesWithinWatermark is dropDuplicates
          val twin = ds.toDF().withColumn("ts", timestamp_seconds(col("ts_sec")))
            .dropDuplicates("event_id")
          val (rows, h) = m.sink.snapshot
          val n = twin.count()
          if (rows == n && h == hashSum(twin)) None
          else Some(s"dedup: output differs from the batch twin ($rows rows vs $n)")
        case _ => None
      }
    }
  }

  def startAll(spark: SparkSession, tmp: String): Seq[Running] =
    Monitors.map(start(spark, _, tmp))

  def stopAll(ms: Seq[Running]): Unit = ms.foreach(_.query.stop())

  def chunksOf(cfg: FeedConfig, seed: Long): Array[Array[Ev]] =
    feed(cfg, seed).grouped(cfg.batch).toArray

  /** Runs the warm-up rounds; returns per-monitor outputs, or failures. */
  def warmup(spark: SparkSession, ms: Seq[Running], chunks: Array[Array[Ev]]):
      Either[Seq[String], Seq[Seq[(Long, BigInt)]]] = {
    val rs = (0 until WarmupRounds).map(r => round(spark, ms, chunks(r).toSeq, r, None))
    rs.zipWithIndex.foreach { case (r, i) =>
      Bench.log(s"warm-up round $i ms/rows out " +
        r.map(_.fold(_ => "fail", x => f"${x._1}%.0f/${x._2._1}")).mkString(" "))
    }
    val fails = rs.flatten.collect { case Left(f) => f }
    if (fails.nonEmpty) Left(fails)
    else Right(rs.map(_.collect { case Right((_, out)) => out }))
  }

  def run(ctx: Bench.Ctx): Int = {
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var chunks: Array[Array[Ev]] = null
    var running: Seq[Running] = Nil
    val outputs = mutable.ArrayBuffer.empty[Seq[Seq[(Long, BigInt)]]]
    val tracer = if (ctx.trace) Some(new Tracer) else None
    val (spark, setupS) = Bench.setUp(3, ctx, teardown = _ => stopAll(running)) { s =>
      chunks = chunksOf(Replay, ctx.seed)
      // the monitors' cloned sessions must inherit the Catalyst listener
      tracer.foreach(_.register(s))
      running = startAll(s, ctx.tmp)
    }
    val tw = System.nanoTime()
    warmup(spark, running, chunks) match {
      case Left(f) => failures ++= f
      case Right(out) => outputs += out
    }
    attempted += WarmupRounds * running.size
    val warmupS = (System.nanoTime() - tw) / 1e9
    // determinism (traced runs, where it costs no timing): a fresh set of
    // monitors must replay the warm-up rounds with identical outputs
    if (ctx.trace) {
      val again = startAll(spark, ctx.tmp)
      warmup(spark, again, chunks) match {
        case Left(f) => failures ++= f
        case Right(out) => outputs += out
      }
      attempted += WarmupRounds * again.size
      stopAll(again)
      outputs.headOption.foreach(_.transpose.zip(running).foreach {
        case (out, m) if out.map(_._1).sum == 0 =>
          failures += s"${m.mon.name}: no output in the warm-up rounds, so the repeat check is empty"
        case _ =>
      })
      if (outputs.size == 2) outputs(0).transpose.zip(outputs(1).transpose).zip(running).foreach {
        case ((a, b), m) if a != b =>
          failures += s"${m.mon.name}: outputs differ between two replays of the same seed"
        case _ =>
      }
    }
    val heap = new Bench.HeapPeak
    val rep = replay(spark, running, chunks, WarmupRounds, ctx.seconds,
      if (ctx.trace) 4 else MinTimedRounds, tracer)
    val heapPeakMb = heap.stopMb()
    failures ++= rep.failures
    attempted += rep.attempted
    stopAll(running)
    if (rep.failures.isEmpty) {
      failures ++= batchTwinFailures(spark, running, chunks.take(rep.rounds).flatten.toSeq)
      attempted += 2
    }
    val timedRounds = rep.rounds - WarmupRounds
    Bench.log(f"$timedRounds timed rounds of ${Replay.batch} events, warm-up $warmupS%.2f s")
    val metrics = mutable.ArrayBuffer.empty[Metric]
    def medians(traced: Boolean): Map[String, Double] =
      rep.latencies.collect { case ((m, t), xs) if t == traced && xs.nonEmpty => m -> Stats.median(xs) / 1000.0 }
    val untraced = medians(false)
    val complete = untraced.size == Monitors.size
    rep.latencies.toSeq.sortBy(_._1).foreach { case ((m, t), xs) =>
      Bench.log(f"  $m%-16s ${if (t) "traced" else ""}%-6s ms ${xs.map(x => f"$x%.0f").mkString(" ")}")
    }
    Bench.logTail("micro-batch latency", rep.latencies.collect { case ((_, false), xs) => xs }.flatten.toSeq, "ms")
    if (!ctx.trace) {
      if (complete) {
        metrics += Metric("setup_s", setupS, "s")
        metrics += Metric("suite_s", untraced.values.sum, "s")
        metrics += Metric("query_geomean_s", Stats.geomean(untraced.values.toSeq), "s")
      }
    } else {
      val traced = medians(true)
      val t = tracer.get
      val tracedRounds = (timedRounds + 1) / 2
      if (complete && traced.size == Monitors.size) {
        val spans = t.linked
        metrics ++= Layer.batchMetrics(spans, tracedRounds,
          rep.latencies.collect { case ((_, true), xs) => xs.sum }.sum / 1000.0 / tracedRounds,
          Bench.releasePersisted(spark), buildS = Some(running.map(_.buildS).sum))
        def minSum(traced: Boolean) =
          rep.latencies.collect { case ((_, t), xs) if t == traced => xs.min }.sum
        metrics += Metric("trace.overhead_ratio", minSum(true) / minSum(false), "ratio")
        metrics ++= streamingMetrics(rep, Replay)
        metrics ++= Probes.functions(ctx.seed)
        metrics += Probes.sources(spark, ctx)
        metrics += Metric("harness.warmup_s", warmupS, "s")
        metrics += Metric("jvm.heap_peak_mb", heapPeakMb, "MB")
      }
      t.write(java.nio.file.Paths.get(ctx.outDir, s"trace_${ctx.workload}_${ctx.seed}.json"))
    }
    Bench.finish(ctx, metrics.toSeq, attempted, failures.toSeq,
      rep.latencies.values.map(_.size).sum)
  }

  /** The streaming layer's figures from one replay's progress reports. */
  def streamingMetrics(rep: Replayed, cfg: FeedConfig): Seq[Metric] = {
    val pooled = rep.latencies.collect { case ((_, false), xs) => xs }.flatten.toSeq
    val all = rep.latencies.values.flatten.toSeq
    val rounds = all.size.toDouble / rep.running.size
    val progress = rep.running.flatMap(_.progress).filter(_.numInputRows > 0)
    def dur(key: String): Double =
      Stats.median(progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    val last = rep.running.flatMap(_.progress.lastOption)
    def stateSum(p: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    Seq(
      Metric("streaming.events_per_s", rounds * cfg.batch / (all.sum / 1000.0), "1/s"),
      Metric("streaming.batch_p50_ms", Stats.quantile(pooled, 0.5), "ms"),
      Metric("streaming.batch_p90_ms", Stats.quantile(pooled, 0.9), "ms"),
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.state_rows", last.map(stateSum(_)(_.numRowsTotal)).sum, "count"),
      Metric("streaming.state_mem_mb", last.map(stateSum(_)(_.memoryUsedBytes)).sum / 1048576.0, "MB"),
      Metric("streaming.state_rows_updated",
        Stats.median(progress.map(stateSum(_)(_.numRowsUpdated))), "count"),
      Metric("streaming.rows_out", rep.running.map(_.sink.rows.get).sum / (rep.rounds.toDouble), "count"))
  }

  /** A short replay on an existing session, for the streaming figures of a
    * batch workload's traced run.
    */
  def probe(spark: SparkSession, ctx: Bench.Ctx): Seq[Metric] = {
    val chunks = chunksOf(Probe, ctx.seed)
    val running = startAll(spark, ctx.tmp)
    try {
      warmup(spark, running, chunks).left.foreach(f => throw new IllegalStateException(f.mkString("; ")))
      val rep = replay(spark, running, chunks, WarmupRounds, 0.0, chunks.length, None)
      require(rep.failures.isEmpty, rep.failures.mkString("; "))
      streamingMetrics(rep, Probe)
    } finally stopAll(running)
  }
}
