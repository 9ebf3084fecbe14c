package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `run.py` builds the classpath, launches this main
  * once per run, and turns the report it writes into the result line.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (scratch dir inside the checkout), data (fixture tables dir),
  * warm-data (the smaller fixture the untimed warm-up pass reads),
  * tiny (0|1: the harness's own test size), corrupt (0|1: self-test —
  * every correctness check is handed a wrong expectation and must
  * fail), t0 (epoch ms at which `run.py` launched the process), cores
  * (the `local[N]` master and shuffle width).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, data: String, warmData: String,
      tiny: Boolean, corrupt: Boolean, t0Ms: Long, cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"), get("data"), get("warm-data"),
      kv.get("tiny").contains("1"), kv.get("corrupt").contains("1"),
      get("t0").toLong, get("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val b = graft.GraftConf.tune(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val traced = if (!a.trace) b else b
      .config("spark.extraListeners", classOf[TraceSparkListener].getName)
      .config("spark.sql.queryExecutionListeners",
        classOf[TraceQueryListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[TraceStreamListener].getName)
    traced.getOrCreate()
  }

  /** The configuration the timings ran under, as the session sees it. */
  def recordConfig(spark: SparkSession, a: Args, r: Report): Unit = {
    val c = spark.conf
    def g(k: String): String = c.getOption(k).getOrElse("<default>")
    r.config ++= Seq(
      "cores" -> a.cores.toString,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "heap_initial_mb" -> (ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getInit / (1 << 20)).toString,
      "shuffle_partitions" -> g("spark.sql.shuffle.partitions"),
      "state_store_provider" ->
        g("spark.sql.streaming.stateStore.providerClass"),
      "rocksdb_changelog" -> g("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled"),
      "ansi" -> g("spark.sql.ansi.enabled"),
      "adaptive" -> g("spark.sql.adaptive.enabled"),
      "objagg_fallback" ->
        g("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"),
      "spark_version" -> spark.version,
      "trace" -> (if (a.trace) "1" else "0"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Stats.watchHeap()
    Seq("local", "tmp", "out").foreach(d =>
      Files.createDirectories(Paths.get(s"${a.work}/$d")))
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Report
    r.put("setup.session_s", (System.currentTimeMillis() - a.t0Ms) / 1000.0,
      "s")
    recordConfig(spark, a, r)
    val c0 = graft.BenchLoad.cpuTicks()
    val w0 = System.nanoTime()
    a.workload match {
      case "stream_covid" => StreamCovid.run(spark, a, r)
      case "batch_specs" => Suites.run(spark, a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Label only: the other processes' CPU use over the run.
    val amb = graft.BenchLoad.ambientCores(c0, graft.BenchLoad.cpuTicks(),
      (System.nanoTime() - w0) / 1e9)
    r.config("ambient_cores") = f"$amb%.2f"
    r.put("rss_peak_mb", Stats.rssPeakMb(), "MB")
    r.put("jvm.heap_after_gc_peak_mb", Stats.heapAfterGcPeakMb(), "MB")
    // Published before the session stops, so that run.py's oracle
    // compare overlaps the shutdown.
    r.write(s"${a.work}/report.json")
    graft.operators.Dedup.clearCaches()
    spark.stop()
  }
}
