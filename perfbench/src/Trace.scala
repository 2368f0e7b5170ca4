package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are wall-clock milliseconds, the clock Spark's
  * listener events carry. `group` is the job group the span belongs to:
  * every query execution of the harness runs under its own group, so
  * listener events are attributed by group, never by time window.
  */
final case class Span(id: Long, parent: Long, group: String, layer: String,
    name: String, startMs: Long, endMs: Long,
    counts: Map[String, Double] = Map.empty) {
  def ms: Long = endMs - startMs
}

object Span {
  val StageCounts: Seq[String] = Seq("tasks", "task_s", "task_cpu_s", "gc_s",
    "max_task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
}

/** Spans recorded from outside graft: the harness's own calls (pass, query,
  * builder call, action, micro-batch) plus a SparkListener and a
  * QueryExecutionListener on the session. Spans are kept in memory and
  * written out once, at the end of the run.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // Spark's own ids -> span id / job group / start time
  private val sqlSpan = new ConcurrentHashMap[Long, Long]()
  private val sqlGroup = new ConcurrentHashMap[Long, String]()
  private val sqlStart = new ConcurrentHashMap[Long, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, Array[Double]]()
  private val barriers = new ConcurrentHashMap[String, CountDownLatch]()

  /** Events are recorded only while the tracer is attached. Sessions cloned
    * while it was registered (a streaming query's own session) keep calling
    * the QueryExecutionListener after it is detached.
    */
  @volatile private var active = false

  def newId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** All spans, with every listener span that found no Spark-side parent
    * re-parented onto the harness span of its job group (the builder call,
    * action or micro-batch that ran it). A group can hold several harness
    * spans (one monitor's micro-batches); the one whose interval holds the
    * span's start is taken.
    */
  def linked: Seq[Span] = {
    val ss = all
    val owners = ss.filter(s => s.group.nonEmpty && Tracer.HarnessLayers(s.layer))
      .groupBy(_.group)
    val ops = ss.filter(s => s.layer == "operators" || s.layer == "streaming")
    val sqls = ss.filter(_.name == "sql_execution")
    def overlap(a: Span, b: Span) = math.min(a.endMs, b.endMs) - math.max(a.startMs, b.startMs)
    ss.map { s =>
      if (s.parent != 0L || Tracer.HarnessLayers(s.layer)) s
      else if (s.group.isEmpty && s.layer == "catalyst")
        // the QueryExecutionListener carries no job group. Catalyst runs on
        // the thread that called the action, one execution at a time, so
        // the SQL execution it overlaps (or else the builder call or action
        // that holds it) is its parent
        sqls.filter(q => overlap(q, s) > 0).sortBy(q => -overlap(q, s)).headOption
          .orElse(ops.find(o => o.startMs <= s.startMs && s.endMs <= o.endMs))
          .map(o => s.copy(parent = o.id, group = o.group)).getOrElse(s)
      else owners.get(s.group).flatMap { os =>
        os.filter(o => o.startMs <= s.startMs && s.startMs <= o.endMs).minByOption(_.ms)
          .orElse(os.filter(_.startMs <= s.startMs).sortBy(-_.startMs).headOption)
      }.map(o => s.copy(parent = o.id)).getOrElse(s)
    }
  }

  /** Harness-side span around `body`; `body` gets the new span's id. */
  def span[T](parent: Long, group: String, layer: String, name: String)(
      body: Long => T): T = {
    val id = newId()
    val t0 = System.currentTimeMillis()
    try body(id)
    finally add(Span(id, parent, group, layer, name, t0, System.currentTimeMillis()))
  }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (active) event match {
    case e: SparkListenerSQLExecutionStart =>
      sqlSpan.put(e.executionId, newId())
      sqlGroup.put(e.executionId, e.jobGroupId.getOrElse(""))
      sqlStart.put(e.executionId, e.time)
    case e: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(e.executionId)).foreach { t0 =>
        add(Span(sqlSpan.get(e.executionId), 0L, sqlGroup.get(e.executionId),
          "exec", "sql_execution", t0, e.time))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val parent = exec.flatMap(x => Option(sqlSpan.get(x))).map(_.longValue).getOrElse(0L)
    val id = newId()
    jobSpan.put(e.jobId, id)
    jobStart.put(e.jobId, (parent, groupOf(e.properties), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (parent, g, t0) =>
      add(Span(jobSpan.get(e.jobId), parent, g, "exec", "job", t0, e.time))
      Option(barriers.get(g)).foreach(_.countDown())
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (active) stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active) Option(e.taskMetrics).foreach { m =>
      val a = stageTasks.computeIfAbsent(e.stageId, _ => new Array[Double](8))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime / 1000.0
        a(2) += m.executorCpuTime / 1e9
        a(3) += m.jvmGCTime / 1000.0
        a(4) = math.max(a(4), e.taskInfo.duration / 1000.0)
        a(5) += m.shuffleWriteMetrics.bytesWritten
        a(6) += m.shuffleReadMetrics.totalBytesRead
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
    val info = e.stageInfo
    val a = Option(stageTasks.remove(info.stageId)).getOrElse(new Array[Double](8))
    val parent = Option(stageJob.get(info.stageId))
      .flatMap(j => Option(jobSpan.get(j))).map(_.longValue).getOrElse(0L)
    val start = info.submissionTime.getOrElse(0L)
    add(Span(newId(), parent, Option(stageGroup.remove(info.stageId)).getOrElse(""),
      "exec", "stage", start, info.completionTime.getOrElse(start),
      Span.StageCounts.zip(a).toMap))
  }

  // QueryExecutionListener: the Catalyst phases of every action, as children
  // of the SQL execution that ran it
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = if (active) phaseSpans(qe, 0L, "")

  /** One span per Catalyst phase the execution's planning tracker holds. */
  def phaseSpans(qe: QueryExecution, parent: Long, group: String): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      add(Span(newId(), parent, group, "catalyst", phase, p.startTimeMs, p.endTimeMs))
    }

  /** Blocks until every listener event posted before the call has been
    * delivered: runs a one-task job and waits for its JobEnd, which the
    * listener bus delivers after everything queued ahead of it.
    */
  def drain(spark: SparkSession): Unit = {
    val g = s"perfbench-barrier-${newId()}"
    val latch = new CountDownLatch(1)
    barriers.put(g, latch)
    val sc = spark.sparkContext
    sc.setJobGroup(g, "listener barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    latch.await(30, TimeUnit.SECONDS)
    barriers.remove(g)
  }

  /** Registers the QueryExecutionListener; sessions cloned afterwards (a
    * streaming query's) inherit it.
    */
  def register(spark: SparkSession): Unit = spark.listenerManager.register(this)

  def attach(spark: SparkSession): Unit = {
    register(spark)
    spark.sparkContext.addSparkListener(this)
    active = true
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    active = false
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[\n")
      w.write(linked.sortBy(s => (s.startMs, s.id)).map { s =>
        val c = s.counts.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
          .mkString("{", ", ", "}")
        s"""{"id": ${s.id}, "parent": ${s.parent}, "group": ${Json.str(s.group)}, """ +
          s""""layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counts": $c}"""
      }.mkString(",\n"))
      w.write("\n]\n")
    } finally w.close()
  }
}

object Tracer {
  /** Layers whose spans the harness records itself. */
  val HarnessLayers: Set[String] = Set("harness", "operators", "streaming")
}
