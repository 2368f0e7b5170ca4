package perfbench

import org.apache.spark.sql.SparkSession

/** Self-checks of the benchmark harness. Run with
  * `python3 perfbench/run.py --selfcheck`; exits non-zero on any failure.
  */
object SelfCheck {
  private var failed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val Array(data, tmp) = args

    val qs = Workloads.pipelineMix
    check("same seed gives the same query order in every pass") {
      (0 until 5).forall(p => Workloads.order(qs, 7, p) == Workloads.order(qs, 7, p))
    }
    check("a different seed or pass gives another order") {
      Workloads.order(qs, 7, 0) != Workloads.order(qs, 8, 0) &&
        Workloads.order(qs, 7, 0) != Workloads.order(qs, 7, 1)
    }
    check("every pass runs every query once") {
      (0 until 5).forall(p => Workloads.order(qs, 3, p).sorted == qs.sorted)
    }

    import StreamReplay._
    val f7 = feed(Replay, 7)
    check("same seed gives the same feed hash") {
      feedHash(f7) == feedHash(feed(Replay, 7)) && feedHash(f7) != feedHash(feed(Replay, 8))
    }
    check("feed has the stated size, duplicates, and disorder inside the 2 h watermarks") {
      val dupShare = 1.0 - f7.map(_.event_id).distinct.length.toDouble / f7.length
      val runMax = f7.scanLeft(Long.MinValue)((m, e) => math.max(m, e.ts_sec)).tail
      val lateness = f7.zip(runMax).map { case (e, m) => m - e.ts_sec }.max
      f7.length == Replay.events && dupShare > 0.01 && dupShare < 0.03 &&
        lateness > 0 && lateness < 7200
    }
    check("one micro-batch spans more event time than the 2 h watermark plus the 30 min gap") {
      f7.grouped(Replay.batch).toSeq.init.forall { b =>
        b.map(_.ts_sec).max - b.map(_.ts_sec).min > 9000
      }
    }
    check("feed keys are skewed: the hottest entity outweighs the median one") {
      val counts = f7.groupBy(_.user_id).values.map(_.length).toSeq.sorted
      counts.last > 20 * counts(counts.size / 2)
    }

    check("every metric name matches [A-Za-z0-9_.-]+ and carries a unit") {
      val all = Catalogue.endToEnd ++ Catalogue.perLayer
      all.forall { case (n, u) => n.matches(Metric.NamePattern) && u.matches(Metric.UnitPattern) } &&
        all.map(_._1).distinct.size == all.size
    }
    check("the result line holds exactly correct, attempted, failed and metrics") {
      val line = Json.resultLine(true, 3, 0, Seq(Metric("suite_s", 1.25, "s")))
      line == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"suite_s": {"value": 1.25, "unit": "s"}}}"""
    }

    val spark = Bench.session(tmp)
    try {
      val good: Bench.Builder = (s, _) => s.range(10).toDF("id")
      val boom: Bench.Builder = (_, _) => throw new IllegalStateException("stub query failure")
      val ref = Bench.execute(spark, "stub_ok", good, data, "ref")
      val ctx = Bench.Ctx("selfcheck", 1L, 1, trace = false, data, "", tmp, tmp)
      val tally = new Bench.Tally(Map("stub_ok" -> (ref.rows, ref.hash)))
      Bench.runPass(spark, ctx, Seq("stub_ok", "stub_throws"), 0, tally, None, timed = true,
        resolve = Map("stub_ok" -> good, "stub_throws" -> boom))
      check("a stub query that throws is counted as failed, not timed") {
        tally.attempted == 2 && tally.failures.size == 1 &&
          tally.failures.head.startsWith("stub_throws: threw") &&
          !tally.samples.keys.exists(_._1 == "stub_throws") &&
          tally.samples(("stub_ok", false)).size == 1
      }
      val wrong = new Bench.Tally(Map("stub_ok" -> (ref.rows, "1")))
      wrong.record(Bench.execute(spark, "stub_ok", good, data, "w"), traced = false, timed = true)
      check("a wrong result hash is counted as failed, not timed") {
        wrong.failures.size == 1 && wrong.samples.isEmpty
      }
      check("the result hash ignores row order") {
        val a = Bench.execute(spark, "x", (s, _) => s.range(100).toDF("id"), data, "a")
        val b = Bench.execute(spark, "x",
          (s, _) => s.range(100).toDF("id").orderBy(org.apache.spark.sql.functions.col("id").desc),
          data, "b")
        a.ok && a.hash == b.hash && a.rows == 100
      }
    } finally spark.stop()

    println(if (failed == 0) "selfcheck: all passed" else s"selfcheck: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
