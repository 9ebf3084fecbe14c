package perfbench

import java.time.LocalDate
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{CovidStreamPipeline, ParquetUpsertSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** `stream_covid`: the paper's job under an open-loop load.
  *
  * Covid wire-format JSON payloads are rendered from the seed during
  * set-up. One clock thread hands them to a MemoryStream as they fall
  * due, every `TickMs`, whatever the engine is doing; the query is
  * `CovidStreamPipeline.start` into a `ParquetUpsertSink` with an
  * explicit zero trigger interval, so the next micro-batch starts when
  * the previous one commits.
  *
  * Event time: every payload of one window carries the same `date`;
  * the date advances every `perWindow` events, so each date is one
  * 1-minute window, windows close steadily and the sink store grows.
  * Payloads of the open date arrive in seeded random order; none is
  * behind the 10-minute watermark, so the expected sink is exact.
  *
  * Phases: warm-up (set-up, not measured), then the `low` and `high`
  * fixed-rate rungs, then `drain`: pre-rendered backlogs, each offered
  * at once; `work_s` is the median time to clear one. The system is
  * quiesced between phases and between backlogs.
  *
  * A window's latency runs from when its last payload was due to when
  * the sink upsert of the micro-batch carrying that payload returned.
  * The upsert's return is read from the batch's progress record:
  * trigger start + triggerExecution − commitOffsets.
  */
object StreamCovid {
  val TickMs = 10
  val Locations = 2000

  final case class Sizing(warmRows: Int, warmBatches: Int, warmSecs: Double,
      lowRate: Double, highRate: Double, lowSecs: Double, highSecs: Double,
      perWindow: Int, drainRows: Int, drains: Int)

  def sizing(a: Main.Args): Sizing =
    if (a.tiny) Sizing(600, 2, 0.5, 200, 400, 1.0, 1.0, 20, 1000, 2)
    else {
      // Rung lengths scale with --seconds; warm-up and drains are fixed.
      val s = math.max(4, a.seconds).toDouble
      Sizing(warmRows = 12000, warmBatches = 3, warmSecs = 6,
        lowRate = 400, highRate = 3200, lowSecs = 0.2 * s,
        highSecs = 0.6 * s, perWindow = 20, drainRows = 12000, drains = 3)
    }

  /** One hand-off to the MemoryStream: the source offset it became, its
    * scheduled and actual epoch ms, and the cumulative payload count.
    */
  final case class Tick(offset: Long, dueMs: Long, actualMs: Long,
      lateMs: Double, upTo: Int)

  def run(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    import spark.implicits._
    val z = sizing(a)
    val rnd = new scala.util.Random(a.seed)
    val locs = (0 until Locations).map(i => f"Region $i%04d")
    // The dimension covers half the locations: state keeps every
    // location, the inner join drops the rest.
    val dimRows = rnd.shuffle(locs).take(Locations / 2).map { n =>
      (n, 100000L + rnd.nextInt(1000000000).toLong,
        Seq("Africa", "Asia", "Europe", "Oceania", "North America",
          "South America")(rnd.nextInt(6)))
    }
    val dim = dimRows.toDF("country_name", "population", "continent")
      .cache()
    dim.count()

    // Pre-rendered payloads, window by window.
    val payloads = mutable.ArrayBuffer.empty[String]
    val windowLast = mutable.ArrayBuffer.empty[Int] // last payload index
    val base = LocalDate.of(2020, 3, 1)
    def render(windows: Int): (Int, Int) = {
      val from = payloads.size
      for (_ <- 0 until windows) {
        val date = base.plusDays(windowLast.size.toLong).toString
        val evs = (0 until z.perWindow).map { _ =>
          val loc = locs(rnd.nextInt(Locations))
          s"""{"date":"$date","location":"$loc",""" +
            s""""new_cases":${rnd.nextInt(5000)},""" +
            s""""total_cases":${rnd.nextInt(50000000)}}"""
        }
        payloads ++= evs
        windowLast += payloads.size - 1
      }
      (from, payloads.size)
    }
    def windowsFor(rate: Double, secs: Double): Int =
      math.max(1, (rate * secs / z.perWindow).round.toInt)
    val warm = render(z.warmRows / z.perWindow)
    val warmOpen = render(windowsFor(z.highRate, z.warmSecs))
    val low = render(windowsFor(z.lowRate, z.lowSecs))
    val high = render(windowsFor(z.highRate, z.highSecs))
    val drains = Seq.fill(z.drains)(
      render(math.max(1, z.drainRows / z.perWindow)))

    // One input partition per micro-batch, like the reference's
    // one-partition `covid_data` topic. Without it MemoryStream makes
    // every hand-off (one per tick) its own partition and task.
    val source = MemoryStream[String](spark, 1)
    val sinkPath = s"${a.work}/out/covid_aggregates"
    val sink = new ParquetUpsertSink(sinkPath,
      Seq("window_start", "location"))
    val query = CovidStreamPipeline.start(source.toDF(), dim, sink,
      s"${a.work}/out/checkpoint", Trigger.ProcessingTime(0L))
    r.config("trigger_interval_ms") = "0"
    r.config("stream_sizing") = z.toString

    val ticks = mutable.ArrayBuffer.empty[Tick]
    /** Open loop: one clock thread offers payloads [from, to) at `rate`
      * per second, TickMs apart, never waiting on the engine.
      */
    def offer(range: (Int, Int), rate: Double): Unit = {
      val (from, to) = range
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val th = new Thread(() => {
        var k = 1
        var sent = from
        while (sent < to) {
          val dueNs = startNs + k.toLong * TickMs * 1000000L
          var now = System.nanoTime()
          while (now < dueNs) {
            LockSupport.parkNanos(dueNs - now)
            now = System.nanoTime()
          }
          val upTo = math.min(to,
            from + (rate * k * TickMs / 1000.0).floor.toInt)
          if (upTo > sent) {
            val off = source.addData(payloads.slice(sent, upTo))
            ticks += Tick(offsetOf(off), startMs + k.toLong * TickMs,
              startMs + (now - startNs) / 1000000L, (now - dueNs) / 1e6,
              upTo)
            sent = upTo
          }
          k += 1
        }
      }, "perfbench-clock")
      th.setDaemon(true)
      th.start()
      th.join()
      query.processAllAvailable()
    }

    // Warm-up: closed-loop batches take first-use JVM, codegen and
    // state-store set-up out of the measured phases, then an unmeasured
    // open-loop stretch at the high rate runs back-to-back batches until
    // the JIT has compiled the per-batch paths (with one closed batch and
    // nothing else, the rungs ran ~40% slower on some seeds).
    val w0 = System.currentTimeMillis()
    val step = (warm._2 - warm._1) / z.warmBatches
    for (i <- 0 until z.warmBatches) {
      val to = if (i == z.warmBatches - 1) warm._2
        else warm._1 + (i + 1) * step
      val now = System.currentTimeMillis()
      ticks += Tick(offsetOf(source.addData(payloads.slice(
        warm._1 + i * step, to))), now, now, 0.0, to)
      query.processAllAvailable()
    }
    offer(warmOpen, z.highRate)
    val tStart = System.currentTimeMillis()
    r.put("setup_s", (tStart - a.t0Ms) / 1000.0, "s")
    r.put("setup.warmup_s", (tStart - w0) / 1000.0, "s")
    val nWarmTicks = ticks.size
    offer(low, z.lowRate)
    val nLowTicks = ticks.size
    offer(high, z.highRate)
    val nHighTicks = ticks.size
    // Drains: each backlog in one hand-off, the engine quiesced between.
    drains.foreach { d =>
      val now = System.currentTimeMillis()
      ticks += Tick(offsetOf(source.addData(payloads.slice(d._1, d._2))),
        now, now, 0.0, d._2)
      query.processAllAvailable()
    }
    val tEnd = System.currentTimeMillis()
    Trace.markTimed(tStart, tEnd)

    val prog = query.recentProgress.toSeq
    query.stop()
    val endByOffset = upsertEnds(prog)
    def lat(t: Tick): Double = endByOffset(t.offset) - t.dueMs.toDouble
    val tickOf = {
      val m = new java.util.TreeMap[Integer, Tick]()
      ticks.foreach(t => m.put(t.upTo, t))
      (idx: Int) => m.higherEntry(idx).getValue
    }
    def rungLatency(range: (Int, Int)): Seq[Double] =
      windowLast.filter(i => i >= range._1 && i < range._2)
        .map(i => lat(tickOf(i))).toSeq
    val lowLat = rungLatency(low)
    val highLat = rungLatency(high)
    val drainSecs = Stats.median(
      ticks.takeRight(drains.size).map(lat(_) / 1000.0).toSeq)
    r.put("latency_p50_ms", Stats.pct(highLat, 0.5), "ms")
    r.put("latency_p90_ms", Stats.pct(highLat, 0.9), "ms")
    r.put("work_s", drainSecs, "s")
    r.put("latency_p50_ms.low", Stats.pct(lowLat, 0.5), "ms")
    r.put("latency_p90_ms.low", Stats.pct(lowLat, 0.9), "ms")
    r.put("latency_p50_ms.high", Stats.pct(highLat, 0.5), "ms")
    r.put("latency_p90_ms.high", Stats.pct(highLat, 0.9), "ms")
    r.put("latency_samples.low", lowLat.size, "count")
    r.put("latency_samples.high", highLat.size, "count")
    r.put("drain_rows_per_s", z.drainRows / drainSecs, "rows/s")
    r.put("drain_s", drainSecs, "s")
    r.put("offered_rows_per_s.low", z.lowRate, "rows/s")
    r.put("offered_rows_per_s.high", z.highRate, "rows/s")

    if (a.trace) {
      val measured = prog.filter(p => Trace.progressAt(p) >= tStart)
      layers(spark, a, r, measured, ticks.toSeq, nWarmTicks, nLowTicks,
        nHighTicks, tStart, tEnd)
    }

    val c0 = System.nanoTime()
    check(spark, a, r, dim, sink, payloads.toSeq)
    r.put("check_s", (System.nanoTime() - c0) / 1e9, "s")
  }

  private def offsetOf(o: Any): Long = o.toString.trim.toLong

  private def dur(p: StreamingQueryProgress, k: String): Long =
    Trace.dur(p, k)

  /** For every source offset, the epoch ms at which the sink upsert of
    * the micro-batch that consumed it returned.
    */
  def upsertEnds(prog: Seq[StreamingQueryProgress]): Map[Long, Double] =
    prog.flatMap { p =>
      val s = p.sources.head
      val start = Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L)
      val end = Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L)
      val ret = (Trace.progressAt(p) + dur(p, "triggerExecution") -
        dur(p, "commitOffsets")).toDouble
      (start + 1 to end).map(_ -> ret)
    }.toMap

  /** Per-layer split of the measured phases (traced pass only). */
  private def layers(spark: SparkSession, a: Main.Args, r: Report,
      prog: Seq[StreamingQueryProgress], ticks: Seq[Tick], nWarm: Int,
      nLow: Int, nHigh: Int, tStart: Long, tEnd: Long): Unit = {
    Trace.sync(spark)
    r.put("gen.late_ms_p99",
      Stats.pct(ticks.slice(nWarm, nHigh).map(_.lateMs), 0.99), "ms")
    // Backlog at each trigger start: rows handed over minus rows that
    // earlier batches consumed.
    def backlog(lo: Int, hi: Int): Double = {
      val rung = ticks.slice(lo, hi)
      val (t0, t1) = (rung.head.actualMs, rung.last.actualMs)
      val before = if (lo == 0) 0L else ticks(lo - 1).upTo.toLong
      var consumed = 0L
      var best = 0L
      prog.foreach { p =>
        val ts = Trace.progressAt(p)
        val offered = ticks.filter(_.actualMs <= ts).lastOption
          .map(_.upTo.toLong).getOrElse(0L)
        if (ts >= t0 && ts <= t1)
          best = math.max(best, offered - (before + consumed))
        if (ts >= t0) consumed += p.numInputRows
      }
      best.toDouble
    }
    r.put("source.backlog_rows_max.low", backlog(nWarm, nLow), "rows")
    r.put("source.backlog_rows_max.high", backlog(nLow, nHigh), "rows")
    Trace.progressMetrics(r, prog)

    // The upsert's first action materialises the persisted upstream
    // batch (parse → aggregate → state → enrich); the rest of the
    // upsert is the sink's own merge and write.
    val qs = Trace.queries.asScala.toSeq
      .filter(q => q.start >= tStart && q.start <= tEnd)
      .sortBy(_.start)
    val firsts = qs.filter(_.func == "isEmpty").map(_.durMs)
    val upserts = prog.map(p => dur(p, "addBatch").toDouble)
    val n = math.min(firsts.size, upserts.size)
    val writes = (0 until n).map(i => math.max(0.0, upserts(i) - firsts(i)))
    r.put("CovidStreamPipeline.transform_ms_p50", Stats.median(firsts),
      "ms")
    r.put("ParquetUpsertSink.upsert_ms_p50", Stats.median(upserts), "ms")
    r.put("ParquetUpsertSink.upsert_ms_max",
      upserts.foldLeft(0.0)(math.max), "ms")
    r.put("ParquetUpsertSink.write_ms_p50", Stats.median(writes), "ms")
    val rowsIn = prog.map(_.numInputRows).sum.toDouble
    val written = Trace.timedTasks.map(_.outputRecords).sum.toDouble
    r.put("ParquetUpsertSink.rows_in", rowsIn, "rows")
    r.put("ParquetUpsertSink.rows_written", written, "rows")
    r.put("ParquetUpsertSink.rows_written_per_row_in",
      if (rowsIn > 0) written / rowsIn else 0.0, "ratio")
    Trace.engineMetrics(r, a.cores)

    // Wall split of the measured phases by micro-batch stage; idle is
    // the time no trigger was running (waiting for payloads).
    val wall = (tEnd - tStart).toDouble
    def sum(f: StreamingQueryProgress => Double) = prog.map(f).sum
    val trig = sum(dur(_, "triggerExecution"))
    val src = sum(p => dur(p, "latestOffset") + dur(p, "getBatch"))
    val log = sum(p => dur(p, "walCommit") + dur(p, "commitOffsets"))
    val plan = sum(dur(_, "queryPlanning"))
    val upsert = upserts.sum
    val transform = firsts.take(n).sum
    r.put("split.wall_s", wall / 1000, "s")
    r.put("split.source_s", src / 1000, "s")
    r.put("split.log_s", log / 1000, "s")
    r.put("split.plan_s", plan / 1000, "s")
    r.put("split.transform_s", transform / 1000, "s")
    r.put("split.sink_write_s", (upsert - transform) / 1000, "s")
    r.put("split.remainder_s",
      (wall - (src + log + plan + upsert)) / 1000, "s")
    r.put("split.idle_s", (wall - trig) / 1000, "s")
  }

  /** The final sink, without `processing_time`, must equal the batch
    * transform over every offered payload, row for row: rows are
    * compared as multisets, so a sink row written twice (a broken keyed
    * upsert) fails its window. An operation is a window; it fails if
    * any of its rows is missing, extra, repeated or different.
    */
  private def check(spark: SparkSession, a: Main.Args, r: Report,
      dim: DataFrame, sink: ParquetUpsertSink,
      payloads: Seq[String]): Unit = {
    import spark.implicits._
    val expected0 = CovidStreamPipeline.transform(dim)(payloads.toDF("value"))
      .drop("processing_time")
    val actual0 = sink.read(spark).drop("processing_time")
    // Self-test: perturb one row of the expectation in the first window
    // and repeat one sink row of the last; exactly those two windows
    // must then fail.
    val (expected, actual) =
      if (!a.corrupt) (expected0, actual0)
      else {
        val first = expected0.agg(min("window_start")).head.get(0)
        val last = actual0.agg(max("window_start")).head.get(0)
        (expected0.withColumn("total_new_cases_in_window",
          when(col("window_start") === lit(first),
            col("total_new_cases_in_window") + 1)
            .otherwise(col("total_new_cases_in_window"))),
          actual0.unionByName(
            actual0.filter(col("window_start") === lit(last)).limit(1)))
      }
    val cols = expected.columns.toSeq
    def byWindow(df: DataFrame): Map[Any, Map[Row, Int]] =
      df.select(cols.map(col): _*).collect().toSeq
        .groupBy(_.getAs[Any]("window_start"))
        .map { case (w, rows) =>
          w -> rows.groupBy(identity).map { case (k, v) => k -> v.size }
        }
    val (exp, act) = (byWindow(expected), byWindow(actual))
    val windows = exp.keySet ++ act.keySet
    r.attempted = windows.size
    r.failed = windows.count(w =>
      exp.getOrElse(w, Map.empty) != act.getOrElse(w, Map.empty))
    r.put("check.windows", windows.size.toDouble, "count")
    r.put("check.sink_rows", act.values.map(_.values.sum).sum.toDouble,
      "rows")
    r.put("check.expected_rows", exp.values.map(_.values.sum).sum.toDouble,
      "rows")
  }
}
