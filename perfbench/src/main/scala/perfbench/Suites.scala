package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{QuerySpec, SparkEntry}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_specs`: declared specs at a fixed fixture scale, each timed
  * once per run as `spec.fn` plus full materialisation through the
  * `noop` sink — the columns the oracle checks, with nothing for
  * Catalyst to prune. `Dedup.clearCaches` runs before every spec, so no
  * timing reads a frame an earlier spec memoised. The order is fixed,
  * and so are the fixture tables: the seed does not change this
  * workload's input.
  *
  * The suite is a fixed subset of `SparkEntry.specs`, sized so that one
  * cold pass fits a run on four cores (the full 184-spec cold pass
  * takes about 260 s there). README.md says how it was chosen.
  */
object Suites {
  /** Read side: operators, native functions, planning and exchange,
    * with no state, sink or store writes — one spec from each of seven
    * spec modules: the flagship window aggregate, JSON parse, and the
    * specs a `count()` timing pruned most (dsir_weights,
    * doc_fingerprint, percentile_agg) among them.
    */
  val Queries: Seq[String] = Seq(
    "window_agg",       // FlagshipQueries
    "json_parse",       // CoreQueries
    "percentile_agg",   // AnalyticQueries
    "doc_fingerprint",  // TextQueries
    "dsir_weights",     // CorpusQueries
    "minhash_lsh",      // DedupQueries
    "ivf_ann")          // SimilarityQueries

  /** Write side: a manifested store built from four intake epochs and a
    * clustered compaction, read as a version-range delta; and a
    * two-execution streaming replay that restores its state from the
    * checkpoint. The heavier store specs (curation_chain_incr2, the
    * term-stats LSM, snapshot_subscribe: 10–15 s cold each here) do
    * not fit a run.
    */
  val Stores: Seq[String] = Seq(
    "snapshot_delta_scan",  // ScaleQueries
    "streaming_dedup")      // StreamingPipelineQuery

  /** The self-test's suite: one read-side spec, a store build and a
    * stateful replay, so every per-layer metric has data. */
  val Tiny: Seq[String] = Seq("window_agg", "json_parse",
    "snapshot_delta_scan", "streaming_dedup")

  /** Spec module of every declared spec, in SparkEntry order. */
  val families: Seq[(String, Seq[QuerySpec])] = Seq(
    "CoreQueries" -> CoreQueries.all,
    "FlagshipQueries" -> FlagshipQueries.all,
    "AnalyticQueries" -> AnalyticQueries.all,
    "RelationalQueries" -> RelationalQueries.all,
    "FunctionQueries" -> FunctionQueries.all,
    "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all,
    "PipelineQueries" -> PipelineQueries.all,
    "CorpusQueries" -> CorpusQueries.all,
    "ChainQueries" -> ChainQueries.all,
    "MultimodalQueries" -> MultimodalQueries.all,
    "ScaleQueries" -> ScaleQueries.all,
    "StreamingPipelineQuery" -> graft.streaming.StreamingPipelineQuery.all)

  def familyOf: Map[String, String] = {
    val m = families.flatMap { case (f, ss) => ss.map(_.name -> f) }
    require(m.map(_._1) == SparkEntry.specs.map(_.name),
      "the family table no longer matches SparkEntry.specs")
    m.toMap
  }

  /** Bench's warm-up of the shared machinery, never a timed spec: a
    * shuffle, parquet reads (the events timestamp path too), the
    * interpreted higher-order and generator paths, a window, and the
    * native graft expressions — so first-use JVM and codegen set-up
    * lands in set-up time instead of on whichever spec runs first.
    */
  def warm(spark: SparkSession, data: String): Unit = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/nation.parquet").count()
    graft.Tables.t(spark, data, "events").limit(100).count()
    val docs = spark.read.parquet(s"$data/documents.parquet").limit(20)
      .withColumn("toks", expr(TextOps.toksS))
    docs.select(explode_outer(col("toks")).as("tok"))
      .groupBy("tok").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("tok")).orderBy(col("count"))))
      .count()
    docs.withColumn("sh", expr("shingles3(toks)"))
      .selectExpr("size(minhash_bands16x2(sh)) AS n")
      .agg(sum(col("n"))).collect()
    docs.withColumn("sh", expr("shingles3(toks)"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("h"))
      .groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ids"))
      .select(expr("pair_expand_sz(ids, 3, 10)"))
      .count()
    spark.read.parquet(s"$data/embeddings.parquet").limit(20)
      .selectExpr("cast(embedding as array<double>) AS v")
      .selectExpr("array_dot(v, v) AS d", "simhash63(array(1L, 2L)) AS s")
      .count()
  }

  def run(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    val fam = familyOf
    val byName = SparkEntry.specs.map(s => s.name -> s).toMap
    val names = if (a.tiny) Tiny else Queries ++ Stores
    names.foreach(n => require(byName.get(n).exists(_.oracle.isDefined),
      s"$n is not a declared spec with an oracle"))
    // A fixed order: a seeded order moved the median spec time by up to
    // 2x, as whichever spec ran first paid the shared first-use costs.
    val specs = names.map(byName)
    r.config("data") = a.data
    r.config("specs") = specs.map(_.name).mkString(",")
    r.config("trigger_interval_ms") = "n/a (replays use AvailableNow)"
    warm(spark, a.warmData)
    /** spec.fn, then full materialisation: (frame, seconds in fn). */
    def once(spec: QuerySpec): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      val df = spec.fn(spark, a.data)
      val fnSecs = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      (df, fnSecs)
    }

    val sc = spark.sparkContext
    val w0 = System.currentTimeMillis()
    r.put("setup_s", (w0 - a.t0Ms) / 1000.0, "s")
    // (spec, (frame, seconds in fn), total seconds) — a failed spec
    // keeps no frame and counts against error_rate.
    val timed = specs.map { spec =>
      // Untimed: drop what the previous spec memoised.
      Dedup.clearCaches(spark)
      sc.setJobDescription(s"spec ${spec.name}")
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Some(once(spec)) catch {
        case scala.util.control.NonFatal(e) =>
          r.notes += s"${spec.name} failed: ${e.getMessage}"
          None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      Trace.markTimed(start, System.currentTimeMillis())
      sc.setJobDescription(null)
      (spec, out, secs)
    }
    val suiteEnd = System.currentTimeMillis()

    val ok = timed.collect { case (s, Some(_), secs) => (s, secs) }
    val times = ok.map(_._2)
    r.put("latency_p50_ms", Stats.pct(times, 0.5) * 1000, "ms")
    r.put("latency_p90_ms", Stats.pct(times, 0.9) * 1000, "ms")
    r.put("work_s", timed.map(_._3).sum, "s")
    r.put("specs", timed.size, "count")
    // The read and write sides separately, so that a gain on one that
    // costs the other shows.
    for ((side, in) <- Seq("query" -> Set("query"),
        "store" -> Set("build", "replay"))) {
      val ts = ok.filter(t => in(t._1.category)).map(_._2)
      r.put(s"suite_s.$side",
        timed.filter(t => in(t._1.category)).map(_._3).sum, "s")
      r.put(s"spec_p50_s.$side", Stats.pct(ts, 0.5), "s")
      r.put(s"specs.$side", ts.size, "count")
    }
    timed.foreach { case (s, _, secs) => r.put(s"spec.${s.name}_s", secs, "s") }

    if (a.trace) {
      Trace.sync(spark)
      fam.values.toSeq.distinct.sorted.foreach { f =>
        val fs = timed.filter(t => fam(t._1.name) == f)
        if (fs.nonEmpty) r.put(s"family.${f}_s", fs.map(_._3).sum, "s")
      }
      r.put("driver.fn_s",
        timed.flatMap(_._2.map(_._2)).sum, "s")
      Trace.engineMetrics(r, a.cores)
      Trace.wallSplit(r)
      streamingLayers(r, w0, suiteEnd)
    }

    // Untimed: dump what each timed call returned, for the DuckDB
    // oracle compare that run.py drives through tools/check.py.
    val d0 = System.nanoTime()
    Dedup.clearCaches(spark)
    val dumpDir = s"${a.work}/out/dump"
    var dumpFailed = 0
    timed.foreach {
      case (spec, Some((df, _)), _) =>
        try {
          df.write.mode("overwrite").parquet(s"$dumpDir/${spec.name}")
          r.dumped += spec.name
        } catch {
          case scala.util.control.NonFatal(e) =>
            r.notes += s"${spec.name} dump failed: ${e.getMessage}"
            dumpFailed += 1
        }
      case _ =>
    }
    val oracle = specs.map(s =>
      s"${Json.str(s.name)}:${Json.str(s.oracle.get)}").mkString("{", ",", "}")
    Files.createDirectories(Paths.get(dumpDir))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), oracle)
    r.put("check.dump_s", (System.nanoTime() - d0) / 1e9, "s")
    r.attempted = timed.size
    r.failed = timed.count(_._2.isEmpty) + dumpFailed
  }

  /** Progress of the replays, which run on child sessions. */
  private def streamingLayers(r: Report, from: Long, to: Long): Unit =
    Trace.progressMetrics(r, Trace.progress.asScala.toSeq.filter { p =>
      val t = Trace.progressAt(p)
      t >= from && t <= to
    })
}
