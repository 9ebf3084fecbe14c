package graft.operators

import java.nio.file.Files

import graft.{Tables, TestSpark}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The at-rest layout story end to end (VERDICT r8 directive 2): the
  * three stored tables a production deployment maintains — documents
  * partitioned by source, band signatures bucketed by (band, sig)
  * (DedupStoreSpec), and IVF vectors partitioned by cell — and the
  * proof ON THE PHYSICAL PLAN that reading work off them prunes scans
  * and never reshuffles the resident corpus.
  */
class AtRestLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  test("documents-by-source store: source filter prunes at the scan " +
    "and a governance read matches the unstored run") {
    val spark = TestSpark.spark
    val path = Files.createTempDirectory("graft-docstore").toString + "/d"
    val docs = Tables.t(spark, dir, "documents")
    AtRestStores.writeDocumentsStore(docs, path)

    val stored = AtRestStores.documentsStore(spark, path)
    val q = stored.filter(col("source") === "src3")
      .groupBy("lang").agg(count(lit(1)).as("n"), avg("n_chars").as("c"))
    q.collect()
    val scans = collectLeaves(q.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan leaf in:\n" +
      s"${q.queryExecution.executedPlan}")
    val scanStr = scans.head.toString
    assert(scanStr.contains("PartitionFilters") &&
      scanStr.contains("source"),
      s"source filter must prune partitions, scan: $scanStr")
    // Parity with the same aggregate off the raw table.
    val direct = docs.filter(col("source") === "src3")
      .groupBy("lang").agg(count(lit(1)).as("n"), avg("n_chars").as("c"))
    assert(q.exceptAll(direct).isEmpty && direct.exceptAll(q).isEmpty)

    // Intake appends land under their source directory without
    // touching resident files.
    import spark.implicits._
    Seq((999999L, "new doc", "en", "src3", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").partitionBy("source").parquet(path)
    assert(AtRestStores.documentsStore(spark, path).count()
      == docs.count() + 1)
  }

  test("IVF store probe: partition-pruned scan, zero corpus-side " +
    "exchanges, bit-equal to the in-memory IVF search") {
    val spark = TestSpark.spark
    val path = Files.createTempDirectory("graft-ivfstore").toString + "/v"
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
      .persist()
    try {
      val NQ = 5
      val cb = Similarity.lloydRefine(e,
        Similarity.firstNCodebook(e, NQ, 8), NQ, iters = 1)
      Similarity.writeIvfStore(e, cb, NQ, path)

      val nProbe = 2
      val viaStore = Similarity.ivfTopKFromSnapshot(spark, path,
        Similarity.querySide(e, NQ), nProbe, k = 5)
      val rows = viaStore.orderBy("q_id", "rn").collect().toSeq
      // Plan: the vector scan carries the probed cells as partition
      // filters, and between that scan and the result there is NO
      // shuffle except the final q_id window exchange — the stored
      // corpus is never reshuffled or re-assigned.
      val plan = viaStore.queryExecution.executedPlan
      val scan = collectLeaves(plan).collect {
        case s: FileSourceScanExec
            if s.toString.contains("/vectors") => s
      }
      assert(scan.nonEmpty, s"no vector-store scan in:\n$plan")
      val scanStr = scan.head.toString
      assert(scanStr.contains("PartitionFilters") &&
        scanStr.contains("cid"),
        s"probe cells must prune cell directories, scan: $scanStr")
      val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
      // r17: probe selection is an in-row sorted-slice over the
      // collected codebook, so the query-side probe window exchange is
      // gone — the final top-k window is the plan's ONLY shuffle.
      assert(shuffles.size == 1,
        s"expected only the final q_id top-k window exchange, got " +
          s"${shuffles.size}:\n$plan")
      shuffles.foreach(s => assert(s.toString.contains("q_id"),
        s"corpus-side shuffle leaked into the probe plan: $s"))
      // Parity: same codebook, same tie-breaks → bit-identical to the
      // in-memory path.
      val direct = Similarity.ivfTopKWith(e, cb, NQ, nProbe, k = 5)
        .orderBy("q_id", "rn").collect().toSeq
      assert(rows == direct)
      // The pruning is real: nProbe=2 of 8 cells per query; the union
      // of probed cells must be a strict subset of all cells.
      val allCells = StoreManifest.snapshotRead(spark, s"$path/vectors")
        .select("cid").distinct().count()
      val probedFiles = scan.head.metrics.get("numFiles")
        .map(_.value).getOrElse(0L)
      assert(allCells == 8 && probedFiles < 8 * 2,
        s"cells=$allCells files=$probedFiles")
    } finally e.unpersist(): Unit
  }

  test("codebook generations: appends AFTER a recompaction assign " +
    "against the retrained book, later publishes keep it, and as-of " +
    "readers resolve the generation their layout was built under") {
    val spark = TestSpark.spark
    val path = Files.createTempDirectory("graft-ivfgen").toString + "/v"
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
      .persist()
    try {
      val NQ = 5
      val stale = Similarity.firstNCodebook(e, NQ, 8)
      // Resident corpus = even vec_ids; odd ones arrive as intake
      // AFTER the recompaction.
      val resident = e.filter(col("vec_id") >= NQ &&
        col("vec_id") % 2 === 0)
      val intake = e.filter(col("vec_id") >= NQ &&
        col("vec_id") % 2 === 1)
      Similarity.writeIvfStore(resident, stale, NQ, path) // v1, stale book
      val trained = Similarity.lloydRefine(resident, stale, NQ,
        iters = 2)
      Similarity.recompactIvfStoreClustered(spark, path, trained) // v2
      // The intake must assign against codebook-v2 (exact-match
      // resolution — the reverted bug — would use the stale build-time
      // book and scatter new vectors into cells the retrained layout
      // no longer means). COMPOSITIONAL publish: a relisting publish
      // here would resurrect v1's expired stale-assigned files into
      // v3 — the trap appendToIvfStoreManifested closes.
      val v3 = Similarity.appendToIvfStoreManifested(intake, path)
      assert(v3 == 3L) // v3, NO codebook-v3 → resolves codebook-v2
      val union = resident.unionByName(intake)
        .select(col("vec_id").as("n_id"), col("v").as("cv"),
          col("nrm").as("cn"))
      // Every stored row sits in the cell the TRAINED book assigns —
      // including the post-recompaction epoch's. The snapshot holds
      // only live files; the directory still holds the compaction's
      // expired stale-assigned ones until GC.
      val storedCells = StoreManifest
        .snapshotRead(spark, s"$path/vectors")
        .select("n_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val wantCells = union.crossJoin(broadcast(trained))
        .withColumn("csim", expr("array_dot(cv, centv) / (cn * centn)"))
        .groupBy(col("n_id"))
        .agg(max(struct(col("csim"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("n_id"), (-col("m.ncid")).cast("int").as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(storedCells == wantCells,
        "a stored vector's cell diverged from the trained assignment")
      // The drift report measures the v3 layout against the book it
      // was built under: equal to the in-memory report over the union
      // and the trained codebook.
      assert(Similarity.ivfStoreDriftSnapshot(spark, path)
        .collect().toSeq ==
        Similarity.ivfCellStatsWith(union, trained).collect().toSeq,
        "snapshot drift must use the codebook generation in force")
      // The v3 snapshot probe resolves the v2 book (greatest <= 3)
      // and is bit-identical to the in-memory trained IVF over the
      // union.
      val viaStore = Similarity.ivfTopKFromSnapshot(spark, path,
        Similarity.querySide(e, NQ), nProbe = 2, k = 5)
        .orderBy("q_id", "rn").collect().toSeq
      val direct = Similarity.ivfTopKWith(
        e.filter(col("vec_id") < NQ).unionByName(
          e.filter(col("vec_id") >= NQ)),
        trained, NQ, nProbe = 2, k = 5)
        .orderBy("q_id", "rn").collect().toSeq
      assert(viaStore == direct,
        "post-append snapshot probe diverged from the trained " +
          "in-memory IVF")
    } finally e.unpersist(): Unit
  }

  test("a rebuild at a recompacted path drops the old codebook " +
    "generations: intake and probes after the rebuild use the " +
    "rebuild's codebook") {
    val spark = TestSpark.spark
    val path = Files.createTempDirectory("graft-ivfrebuild").toString +
      "/v"
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
      .persist()
    try {
      val NQ = 5
      val first = Similarity.firstNCodebook(e, NQ, 8)
      val resident = e.filter(col("vec_id") < NQ ||
        col("vec_id") % 2 === 0)
      val intake = e.filter(col("vec_id") >= NQ &&
        col("vec_id") % 2 === 1)
      // Store one: v1 built on the first-N book, v2 re-clustered onto
      // a retrained book published as codebook-v2.
      Similarity.writeIvfStore(resident, first, NQ, path)
      val trained = Similarity.lloydRefine(resident, first, NQ,
        iters = 2)
      assert(Similarity.recompactIvfStoreClustered(spark, path,
        trained) == 2L)
      // Store two at the same path: a fresh line from v1 on the
      // first-N book. The append lands on v2 — the version the old
      // retrain's codebook-v2 was published under.
      Similarity.writeIvfStore(resident, first, NQ, path)
      assert(StoreManifest.currentVersion(spark, s"$path/vectors")
        .contains(1L))
      assert(!new java.io.File(s"$path/codebook-v2").exists(),
        "the rebuild must delete the previous store's codebook-v2")
      assert(Similarity.appendToIvfStoreManifested(intake, path) == 2L)
      val viaStore = Similarity.ivfTopKFromSnapshot(spark, path,
        Similarity.querySide(e, NQ), nProbe = 2, k = 5)
        .orderBy("q_id", "rn").collect().toSeq
      val direct = Similarity.ivfTopKWith(e, first, NQ, nProbe = 2,
        k = 5).orderBy("q_id", "rn").collect().toSeq
      assert(viaStore == direct,
        "post-rebuild probe diverged from the in-memory IVF over the " +
          "rebuild's codebook")
    } finally e.unpersist(): Unit
  }

  test("IVFPQ code store: pruned codes scan, ADC search bit-identical " +
    "to the in-memory composite, and store-fed exact rerank equal to " +
    "the in-memory rerank") {
    val spark = TestSpark.spark
    val NQ = 5
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
      .persist()
    try {
      val cent = e.filter(col("vec_id") >= NQ && col("vec_id") < NQ + 8)
        .select(col("vec_id").as("cid"), col("v").as("centv"),
          col("nrm").as("centn"))
      val base = Files.createTempDirectory("graft-pqstore").toString
      val pqPath = s"$base/pq"
      val vecPath = s"$base/vec"
      Similarity.writeIvfPqStore(e, cent, NQ + 8, NQ, 4, 16, pqPath)
      Similarity.writeIvfStore(e, cent, NQ, vecPath)

      // ADC search off the store == in-memory composite, bit-for-bit
      // (same encode via the shared parts, same probes/LUT/sum).
      val q = Similarity.querySide(e, NQ)
      val viaStore = Similarity.ivfPqTopKFromPqStore(spark, pqPath, q,
        nProbe = 2, k = 10)
      val mem = Similarity.ivfPqTopKWith(e, cent, NQ + 8, NQ,
        nProbe = 2, nSub = 4, nCode = 16, k = 10)
        .orderBy("q_id", "rn").collect().toSeq
      assert(viaStore.orderBy("q_id", "rn").collect().toSeq == mem)

      // The codes scan is partition-pruned to the probed cells.
      val scan = collectWithSubqueries(
        viaStore.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.toString.contains("/pq/codes") => s
      }
      assert(scan.nonEmpty &&
        scan.head.toString.contains("PartitionFilters") &&
        scan.head.toString.contains("cid"),
        s"codes scan not cell-pruned: ${scan.map(_.toString)}")

      // The full at-rest pipeline (code candidates → raw-vector exact
      // rerank, both stores pruned) equals the in-memory rerank.
      val rerankStore = Similarity.ivfPqRerankFromStores(spark, pqPath,
        vecPath, q, nProbe = 2, nCand = 40, k = 10)
        .orderBy("q_id", "rn").collect().toSeq
      val rerankMem = Similarity.ivfPqRerankWith(e, cent, NQ + 8, NQ,
        nProbe = 2, nSub = 4, nCode = 16, nCand = 40, k = 10)
        .orderBy("q_id", "rn").collect().toSeq
      assert(rerankStore == rerankMem)
    } finally e.unpersist(): Unit
  }

  test("a corpus-sized file at a codebook path is rejected loudly, " +
    "and the probe's driver-side fetch stays bounded while detecting it") {
    val spark = TestSpark.spark
    import spark.implicits._
    val path = Files.createTempDirectory("graft-badcb").toString + "/s"
    // 70k rows where KB-sized metadata belongs — over the 65536 bound.
    spark.range(70000)
      .select(col("id").as("cid"), array(lit(1.0f)).as("centv"),
        lit(1.0f).as("centn"))
      .write.parquet(s"$path/codebook")
    // An empty v1 stands in for the vector table: the probe resolves
    // the manifest, then fails on the codebook before any vector scan.
    StoreManifest.publish(spark, s"$path/vectors", Seq.empty): Unit
    val q = Seq((0L, Array(1.0f), 1.0f)).toDF("q_id", "qv", "qn")
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromSnapshot(spark, path, q, nProbe = 1, k = 1)
    }
    // "65537+" proves the fetch was LIMIT-bounded: the guard saw the
    // capped batch, not a full corpus pulled into the driver to count.
    assert(ex.getMessage.contains("65537+") &&
      ex.getMessage.contains("not a corpus"), ex.getMessage)
  }
}
