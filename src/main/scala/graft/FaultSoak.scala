package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{Success => TaskSuccess, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Failure-injection determinism soak: the curation chain's sampling,
  * budget, and packing operators claim determinism via portable
  * multiplicative hashes and bounded-window prefix sums — reproducible
  * row-by-row, stable under repartitioning. At 1000 executors the
  * thing that actually perturbs execution is TASK RETRY: a task dies
  * mid-stage, its shuffle/cache output is discarded, and the retried
  * attempt recomputes its partition from lineage. This soak PROVES the
  * chain's outputs are bit-identical under that perturbation instead
  * of asserting it:
  *
  *   1. run the full chain (shingle → minhash clusters → dedup keep →
  *      pii redact → budget select → mixture sample → seq pack) CLEAN
  *      on an amplified corpus and digest every output frame with the
  *      order-independent [[digest]] triple;
  *   2. run the SAME chain with a deterministic first-attempt fault
  *      injector spliced in at three depths (the source scan, the
  *      post-dedup survivor set, the post-budget selection): an
  *      identity mapPartitions that THROWS on attempt 0 of every
  *      third partition, so every action over an injected frame
  *      experiences real task failures and real retries
  *      (master local[cpus,4] — maxFailures 4, as on a cluster);
  *   3. require every digest pair identical, injected-fault count > 0,
  *      and successfully-retried-task count > 0 (a soak where no task
  *      actually failed proves nothing).
  *
  * The injected run uses its own memo cacheKey: the memoized shingle /
  * band tables MATERIALIZE under injected faults too — cache blocks
  * from killed attempts must be discarded and rebuilt, exercising the
  * persist path the chain's candidate generation depends on. The CC
  * loop's localCheckpoint sits below the injection points and is
  * materialized by actions whose failed tasks retry normally; once
  * materialized its blocks are attempt-independent.
  *
  * Why digests and not collected rows: the outputs are corpus-sized at
  * amplification — a driver collect is exactly the anti-pattern the
  * chain bans. See [[digest]] for the order-independent
  * (count, xor, exact decimal sum) triple and why each component is
  * there.
  *
  *   SPARK_GRAFT_FAULT_N=20 sbt "runMain graft.FaultSoak"
  */
object FaultSoak {

  /** Injected-fault counter. A plain JVM-static is correct here
    * because the soak runs local-mode (driver and executors share the
    * JVM, and the singleton survives closure round-trips); on a real
    * cluster this would be a LongAccumulator — but accumulator updates
    * from FAILED attempts are exactly the ones Spark drops, so the
    * static is also the only honest way to count throws.
    */
  val injected = new AtomicLong

  /** Identity pass-through that kills the FIRST attempt of every
    * `modulo`-th partition. Deterministic: attempt 0 always dies,
    * attempt 1 always lives — so with maxFailures ≥ 2 every action
    * over this frame succeeds after real, scheduler-visible retries.
    */
  private def injectFaults(df: DataFrame, modulo: Int,
      label: String): DataFrame =
    df.mapPartitions { it: Iterator[Row] =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 &&
          tc.partitionId() % modulo == 0) {
        injected.incrementAndGet()
        throw new RuntimeException(
          s"graft-injected-fault [$label] partition ${tc.partitionId()}")
      }
      it
    }(Encoders.row(df.schema))

  /** Task-retry observability: failed task-end events and tasks that
    * SUCCEEDED on a retry attempt (attemptNumber > 0).
    */
  private final class RetryListener extends SparkListener {
    val failed = new AtomicLong
    val retriedOk = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.reason != TaskSuccess) failed.incrementAndGet()
      else if (t.taskInfo.attemptNumber > 0) retriedOk.incrementAndGet()
      ()
    }
  }

  /** Order-independent multiset digest: (row count, xor of per-row
    * hashes, exact decimal sum of per-row hashes as a string). The
    * per-row hash is xxhash64 over to_json(struct(*)) — JSON makes
    * null POSITIONS explicit (bare xxhash64 skips null columns, so a
    * null-position swap between two columns would collide). Two
    * aggregates because each alone has a blind spot: xor misses
    * even-multiplicity differences (a row duplicated while another
    * pair drops XORs to zero), the sum misses xor-symmetric swaps;
    * differing in BOTH simultaneously requires engineered collisions,
    * not a retry artifact. The sum runs in decimal(38,0) — exact,
    * order-independent, and overflow-free under ANSI (2^63 · rows
    * stays far below 38 digits at any soak scale).
    */
  private def digest(df: DataFrame): (Long, Long, String) = {
    val r = df.select(xxhash64(to_json(struct(
        df.columns.map(col).toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("h").cast("decimal(38,0)")).as("s"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) "0" else r.getDecimal(2).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_FAULT_N", "20").toInt
    val dupCopies = n / 2
    val modulo = sys.env.getOrElse("SPARK_GRAFT_FAULT_MOD", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // local[K, 4]: four task attempts before the job fails — the
    // cluster default's shape. Plain local[K] is maxFailures 1, where
    // ANY injected fault kills the job instead of retrying.
    val spark = GraftConf.tune(SparkSession.builder())
      .master(s"local[$cpus,4]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // retry stack traces are WARN
    val retries = new RetryListener
    spark.sparkContext.addSparkListener(retries)

    val soakDir = java.nio.file.Files
      .createTempDirectory("graft-fault-soak").toString
    ChainSoak.amplifiedDocs(Tables.t(spark, srcDir, "documents"),
        n, dupCopies)
      .write.mode("overwrite").parquet(s"$soakDir/documents.parquet")
    val docs = Tables.t(spark, soakDir, "documents")
    // Identical budget for both runs, derived once from the corpus
    // (≈ half of each language's post-dedup mass survives selection).
    val budget = docs.groupBy("lang").agg(sum("n_chars").as("c"))
      .agg(min("c")).head().getLong(0) / 4

    /** One full chain pass; `inject` splices the fault stage in at the
      * source, post-dedup, and post-budget depths. Digests taken at
      * the four output frames downstream operators would consume.
      */
    def runChain(tag: String, inject: Boolean)
        : Map[String, (Long, Long, String)] = {
      def tap(df: DataFrame, label: String): DataFrame =
        if (inject) injectFaults(df, modulo, label) else df
      val cacheKey = s"$soakDir/$tag"
      val src = tap(docs, "source")
      val sh = operators.Dedup.docShingles(src, cacheKey = cacheKey)
      val clusters = operators.Dedup.clusters(sh, 4, 5,
        cacheKey = cacheKey)
      val dupes = clusters
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val kept = src.join(dupes, Seq("doc_id"), "left_anti").persist()
      val keptD = digest(kept)
      val redacted = operators.Pipeline.redactPii(tap(kept, "kept"))
      val selected = operators.Pipeline
        .budgetSelectDocs(redacted, budget).persist()
      val selD = digest(selected)
      val sampled = operators.Pipeline
        .mixtureSample(tap(selected, "selected")).persist()
      val samD = digest(sampled)
      val packed = operators.Pipeline.packSequences(sampled,
        cap = 2048, bucketWidth = 65536L)
      val packD = digest(packed)
      Seq(kept, selected, sampled).foreach(_.unpersist(blocking = false))
      Map("kept" -> keptD, "selected" -> selD, "sampled" -> samD,
        "packed" -> packD)
    }

    val t0 = System.nanoTime()
    val clean = runChain("clean", inject = false)
    val cleanSec = (System.nanoTime() - t0) / 1e9
    // Every counter snapshot below follows a bus drain: RetryListener
    // events deliver asynchronously, and an undrained snapshot would
    // race late task-ends from the previous phase (ADVICE r9).
    ChainSoak.drainListeners(spark)
    val f0 = (injected.get, retries.failed.get, retries.retriedOk.get)
    require(f0 == ((0L, 0L, 0L)),
      s"clean run must see zero faults/retries, got $f0")

    val t1 = System.nanoTime()
    val faulty = runChain("faulty", inject = true)
    val faultySec = (System.nanoTime() - t1) / 1e9
    ChainSoak.drainListeners(spark)

    val stages = Seq("kept", "selected", "sampled", "packed")
    stages.foreach { s =>
      val (c, f) = (clean(s), faulty(s))
      println(s"""{"metric":"fault_stage","stage":"$s",""" +
        s""""rows":${c._1},"digest_clean":"${c._2}:${c._3}",""" +
        s""""digest_faulty":"${f._2}:${f._3}","match":${c == f}}""")
      require(c == f, s"stage $s diverged under retry: clean=$c faulty=$f")
    }
    require(injected.get > 0, "no faults were injected — soak is vacuous")
    require(retries.retriedOk.get > 0,
      "no task succeeded on a retry attempt — soak is vacuous")
    println(s"""{"metric":"fault_soak","n_copies":$n,""" +
      s""""docs":${docs.count()},"injected_faults":${injected.get},""" +
      s""""failed_tasks":${retries.failed.get},""" +
      s""""retried_ok":${retries.retriedOk.get},""" +
      s""""sec_clean":${math.round(cleanSec * 10) / 10.0},""" +
      s""""sec_faulty":${math.round(faultySec * 10) / 10.0},""" +
      s""""stages_identical":${stages.size}}""")

    // ---- streaming phase: the flagship watermarked window agg feeding
    // the keyed ParquetUpsertSink through foreachBatch, with faults
    // injected INSIDE each microbatch — task retries now hit a stateful
    // streaming stage (RocksDB state-store versions roll back with the
    // aborted attempt) and the sink's merge actions. Each batch carries
    // a late re-emission of the previous day's key (inside the
    // watermark), so update mode re-emits and the upsert's REPLACE path
    // runs under retry too. The digest drops processing_time
    // (current_timestamp, nondeterministic by design) and the two raw
    // double avg columns — IEEE double reduction is not
    // combine-order-stable, which is exactly why every BATCH operator
    // with an oracle quantizes to integers before summing; the
    // determinism contract covers the integer/decimal outputs.
    ChainSoak.drainListeners(spark)
    val streamBase =
      (injected.get, retries.failed.get, retries.retriedOk.get)
    def runStream(tag: String, inject: Boolean): (Long, Long, String) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val dim = streaming.CovidStreamPipeline.countriesDim(spark)
      val locations = dim.select("country_name").as[String].collect()
      val source = MemoryStream[String](spark)
      val storePath = s"$soakDir/store_$tag"
      val sink = new streaming.ParquetUpsertSink(storePath,
        Seq("window_start", "location"))
      val query = streaming.CovidStreamPipeline.transform(dim)(
          source.toDF())
        .drop("processing_time", "avg_new_cases_per_entry",
          "avg_total_cases_per_entry")
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$soakDir/ckpt_$tag")
        .foreachBatch { (b: DataFrame, id: Long) =>
          sink.upsert(
            if (inject) injectFaults(b, modulo, s"stream-$tag") else b, id)
        }
        .start()
      val day0 = java.time.LocalDate.parse("2021-01-01")
      (0 until 12).foreach { i =>
        val rows = for {
          loc <- locations.toSeq
          (d, nr) <- Seq((i, 3), (i - 1, 1)).filter(_._1 >= 0)
          k <- 0 until nr
        } yield s"""{"date":"${day0.plusDays(d.toLong)}",""" +
          s""""location":"$loc",""" +
          s""""new_cases":${(i * 31 + k * 7 + loc.length) % 500},""" +
          s""""total_cases":${1000L + i * 13 + k * 3}}"""
        source.addData(rows: _*)
        query.processAllAvailable()
      }
      query.stop()
      digest(spark.read.parquet(storePath))
    }
    val streamClean = runStream("clean", inject = false)
    ChainSoak.drainListeners(spark)
    val midStream =
      (injected.get, retries.failed.get, retries.retriedOk.get)
    require(midStream == streamBase,
      s"clean streaming run must see zero faults, got $midStream vs " +
        s"$streamBase")
    val streamFaulty = runStream("faulty", inject = true)
    ChainSoak.drainListeners(spark)
    val sInj = injected.get - midStream._1
    val sRetried = retries.retriedOk.get - midStream._3
    println(s"""{"metric":"fault_stream","rows":${streamClean._1},""" +
      s""""digest_clean":"${streamClean._2}:${streamClean._3}",""" +
      s""""digest_faulty":"${streamFaulty._2}:${streamFaulty._3}",""" +
      s""""injected_faults":$sInj,"retried_ok":$sRetried,""" +
      s""""match":${streamClean == streamFaulty}}""")
    require(streamClean == streamFaulty,
      s"streaming sink diverged under retry: clean=$streamClean " +
        s"faulty=$streamFaulty")
    require(sInj > 0 && sRetried > 0,
      "streaming phase saw no injected faults/retries — vacuous")

    // ---- phase 3 (round 11): STORE INTAKE under injected task
    // retries — the staged epoch write runs through Spark's file
    // commit protocol (failed attempts' files discarded, the retry's
    // committed), then the driver-side rename/ledger path applies
    // once. Two stores take the SAME three intake epochs, one clean
    // and one with the fault injector spliced into every batch; each
    // epoch publishes a snapshot version and the per-cell compaction
    // trigger fires mid-run, so the publish, compaction, and GC paths
    // all execute with failing tasks in the staging jobs. The snapshot
    // digests must be identical, and replaying an epoch on the faulted
    // store must change nothing.
    {
      val base3 =
        (injected.get, retries.failed.get, retries.retriedOk.get)
      graft.functions.GraftFunctions.register(spark)
      val raw = Tables.t(spark, srcDir, "embeddings")
        .select("vec_id", "embedding")
      val NQ = 5
      val e = operators.Similarity.prepared(raw)
      val cb = operators.Similarity.firstNCodebook(e, NQ, 8)
      def snapshotDigest(store: String): (Long, Long, String) =
        digest(operators.StoreManifest.snapshotRead(spark,
          s"$store/vectors"))
      def intakeRun(tag: String, inject: Boolean): (Long, Long, String) = {
        val store = s"$soakDir/ivf_$tag"
        operators.Similarity.writeIvfStore(
          e.filter(col("vec_id") % 3 === 0), cb, NQ, store)
        (0 until 3).foreach { i =>
          val b0 = raw.filter(col("vec_id") >= NQ &&
              col("vec_id") % 3 === (i % 3))
            .withColumn("vec_id",
              col("vec_id") + lit((i + 1) * 10000000L))
          val b = if (inject) injectFaults(b0, modulo,
            s"intake-$tag-$i") else b0
          streaming.StoreIntake.ivfIntakeBatch(store, s"fs-$tag",
            compactOver = 2)(b, i.toLong)
        }
        snapshotDigest(store)
      }
      val intakeClean = intakeRun("clean", inject = false)
      ChainSoak.drainListeners(spark)
      val mid3 =
        (injected.get, retries.failed.get, retries.retriedOk.get)
      require(mid3 == base3,
        s"clean intake run must see zero faults: $mid3 vs $base3")
      val intakeFaulty = intakeRun("faulty", inject = true)
      // Replay epoch 0 on the faulted store (fresh injector wrapper —
      // the ledger must skip before any executor work runs).
      streaming.StoreIntake.ivfIntakeBatch(s"$soakDir/ivf_faulty",
        "fs-faulty")(
        injectFaults(raw.filter(col("vec_id") >= NQ &&
            col("vec_id") % 3 === 0)
          .withColumn("vec_id", col("vec_id") + lit(10000000L)),
          modulo, "intake-replay"), 0L)
      val intakeReplayed = snapshotDigest(s"$soakDir/ivf_faulty")
      ChainSoak.drainListeners(spark)
      val iInj = injected.get - mid3._1
      val iRetried = retries.retriedOk.get - mid3._3
      println(s"""{"metric":"fault_intake","rows":${intakeClean._1},""" +
        s""""digest_clean":"${intakeClean._2}:${intakeClean._3}",""" +
        s""""digest_faulty":"${intakeFaulty._2}:${intakeFaulty._3}",""" +
        s""""injected_faults":$iInj,"retried_ok":$iRetried,""" +
        s""""match":${intakeClean == intakeFaulty &&
          intakeFaulty == intakeReplayed}}""")
      require(intakeClean == intakeFaulty,
        s"store intake diverged under retry: clean=$intakeClean " +
          s"faulty=$intakeFaulty")
      require(intakeFaulty == intakeReplayed,
        "replaying an applied epoch changed the faulted store")
      require(iInj > 0 && iRetried > 0,
        "intake phase saw no injected faults/retries — vacuous")
    }

    operators.Dedup.clearCaches(spark)
    spark.stop()
    ChainSoak.deleteRecursively(new java.io.File(soakDir))
  }
}
