package graft.streaming

import java.nio.file.Files

import graft.{Tables, TestSpark}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming intake → at-rest stores under the exactly-once epoch
  * ledger (VERDICT r10 #1). These drive the foreachBatch BODIES
  * directly — the streaming wiring around them is MemoryStream-proven
  * in StreamSoak pipeline 5; the contracts pinned here are the
  * filesystem-ledger ones: applied epochs are skipped before any
  * executor work, resident files are never rewritten, and a kill
  * mid-rename followed by replay converges to exactly-once at store
  * granularity (the intent record bounds cleanup to the failed
  * epoch's own files).
  */
class StoreIntakeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val NQ = 5

  private def listing(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val s = it.next()
        if (!s.getPath.getName.startsWith("_") &&
          !s.getPath.toString.contains("/.") &&
          !s.getPath.toString.contains("/_manifest/"))
          b += ((s.getPath.toString, s.getLen))
      }
      b.result()
    }
  }

  test("IVF intake: epochs apply exactly once, resident history is " +
    "byte-identical, probes stay pruned and equal the in-memory IVF; " +
    "a kill mid-rename + replay appends nothing twice") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-intake").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    val cb = Similarity.firstNCodebook(e, NQ, 8)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    Similarity.writeIvfStore(base, cb, NQ, store)
    val scope = "ckpt-a"
    val b1 = raw.filter(col("vec_id") >= NQ && col("vec_id") % 6 === 0)
    val b2 = raw.filter(col("vec_id") >= NQ && col("vec_id") % 6 === 3)

    // Batch 0 applies; its replay is skipped with the store untouched.
    val vroot = s"$store/vectors"
    val before = listing(spark, vroot)
    StoreIntake.ivfIntakeBatch(store, scope)(b1, 0L)
    val after1 = listing(spark, vroot)
    assert(before.subsetOf(after1) && after1.size > before.size,
      "epoch 0 must add files without rewriting residents")
    assert(StoreIntake.epochApplied(spark, store, scope, 0L))
    val v1 = graft.operators.StoreManifest.currentVersion(spark, vroot)
    assert(v1.contains(2L), s"epoch 0 must publish v2 over v1, got $v1")
    StoreIntake.ivfIntakeBatch(store, scope)(b1, 0L)
    assert(listing(spark, vroot) == after1 &&
      graft.operators.StoreManifest.currentVersion(spark, vroot) == v1,
      "replaying an applied epoch must be a no-op")

    // Batch 1 killed after ONE rename: not recorded, partial files
    // present — the crash window the intent record exists for.
    val ex = intercept[IllegalStateException] {
      StoreIntake.appendEpoch(spark, store, scope, 1L,
        destPrefix = "vectors", faultAfterMoves = 1) { sd =>
        Similarity.stageIvfEpoch(Similarity.prepared(b2), store, sd)
      }
    }
    assert(ex.getMessage.contains("injected"))
    assert(!StoreIntake.epochApplied(spark, store, scope, 1L))
    val partial = listing(spark, s"$store/vectors")
    assert(partial.exists(f => f._1.contains("epoch-ckpt-a-1-")),
      "the kill must leave a partial epoch behind for cleanup to find")

    // Replay converges: exactly the clean single-apply row set — no
    // row appears twice even though a file already landed.
    StoreIntake.ivfIntakeBatch(store, scope)(b2, 1L)
    assert(StoreIntake.epochApplied(spark, store, scope, 1L))
    val stored = graft.operators.StoreManifest.snapshotRead(spark, vroot)
    val expectIds = e.filter(col("vec_id") >= NQ &&
      (col("vec_id") % 3 =!= 0 || col("vec_id") % 6 === 0 ||
        col("vec_id") % 6 === 3))
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    val storedIds = stored.select("n_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(storedIds == expectIds,
      "stored rows must be exactly base ∪ epoch0 ∪ epoch1, no dups")

    // Probe parity with the in-memory IVF over the union corpus, and
    // the ledger lists exactly the applied epochs.
    val viaStore = Similarity.ivfTopKFromSnapshot(spark, store,
      Similarity.querySide(e, NQ), nProbe = 3, k = 5)
      .orderBy("q_id", "rn").collect()
    val union = e.filter(col("vec_id") < NQ ||
      col("vec_id").isin(expectIds.map(java.lang.Long.valueOf): _*))
    val mem = Similarity.ivfTopKWith(union, cb, NQ, nProbe = 3, k = 5)
      .orderBy("q_id", "rn").collect()
    assert(viaStore.toSeq == mem.toSeq,
      "store probe diverged from in-memory IVF after intake epochs")
    assert(StoreIntake.appliedEpochs(spark, store) ==
      Seq("epoch-ckpt-a-0", "epoch-ckpt-a-1"))
  }

  test("IVF intake: an empty batch still records its epoch (ledger " +
    "stays contiguous) without touching the store") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-empty").toString +
      "/ivf"
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding"))
    Similarity.writeIvfStore(e, Similarity.firstNCodebook(e, NQ, 4), NQ,
      store)
    val before = listing(spark, s"$store/vectors")
    val empty = e.filter(lit(false))
      .select(col("vec_id"), col("v").as("embedding"))
    StoreIntake.ivfIntakeBatch(store, "s")(empty, 7L)
    assert(StoreIntake.epochApplied(spark, store, "s", 7L))
    assert(listing(spark, s"$store/vectors") == before)
    assert(graft.operators.StoreManifest.currentVersion(spark,
      s"$store/vectors").contains(1L))
  }

  test("IVF intake into a directory without a manifest fails before " +
    "anything is staged or recorded") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-nomanif").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    Similarity.writeIvfStore(e.filter(col("vec_id") % 2 === 1),
      Similarity.firstNCodebook(e, NQ, 4), NQ, store)
    // The unmanifested shape: a cell-partitioned vector table with a
    // codebook but no manifest (a copy of a store, or one whose
    // manifest was lost).
    val fsp = new org.apache.hadoop.fs.Path(s"$store/vectors/_manifest")
    fsp.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(fsp, true): Unit
    val before = listing(spark, store)
    val b = raw.filter(col("vec_id") >= NQ && col("vec_id") % 2 === 0)
    Seq(b, b.filter(lit(false))).foreach { batch =>
      val ex = intercept[IllegalArgumentException] {
        StoreIntake.ivfIntakeBatch(store, "nm", compactOver = 2)(batch, 0L)
      }
      assert(ex.getMessage.contains("carries no manifest"), ex.getMessage)
    }
    assert(listing(spark, store) == before,
      "a rejected intake must leave the directory untouched")
    assert(!new java.io.File(s"$store/_epochs").exists(),
      "a rejected intake must not record an epoch")
    assert(!StoreIntake.epochApplied(spark, store, "nm", 0L))
  }

  test("manifested IVF intake: every epoch publishes a snapshot " +
    "version, the compaction trigger counts LIVE files, and expired " +
    "files are GC'd after the retention window") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-manif").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    val cb = Similarity.firstNCodebook(e, NQ, 8)
    Similarity.writeIvfStore(e.filter(col("vec_id") % 4 === 1), cb, NQ,
      store)
    assert(graft.operators.StoreManifest.currentVersion(spark,
      s"$store/vectors").contains(1L))
    // Four intake epochs (fresh ids — offset per epoch) with an
    // aggressive trigger: every cell crosses 2 live files repeatedly,
    // so snapshot compactions and GCs interleave with publishes.
    (0 until 4).foreach { i =>
      val b = raw.filter(col("vec_id") >= NQ && col("vec_id") % 4 === i)
        .withColumn("vec_id", col("vec_id") + lit((i + 1) * 10000000L))
      StoreIntake.ivfIntakeBatch(store, "mf", compactOver = 2)(
        b, i.toLong)
    }
    val vroot = s"$store/vectors"
    val v = graft.operators.StoreManifest.currentVersion(spark, vroot)
    assert(v.exists(_ >= 5L), s"expected ≥5 manifest versions, got $v")
    // Live files per cell bounded by the trigger.
    val perCell = Similarity.ivfCellFiles(spark, store).map(_._2)
    assert(perCell.max <= 3,
      s"live files per cell exceeded the trigger: $perCell")
    // The snapshot answers exactly like the in-memory IVF over the
    // union corpus (base %4==1 ∪ the four offset-id epochs).
    val union = (0 until 4).foldLeft(
      e.filter(col("vec_id") < NQ || col("vec_id") % 4 === 1)) {
      (acc, i) =>
        acc.unionByName(e.filter(col("vec_id") >= NQ &&
            col("vec_id") % 4 === i)
          .withColumn("vec_id",
            col("vec_id") + lit((i + 1) * 10000000L)))
    }
    val viaSnap = Similarity.ivfTopKFromSnapshot(spark, store,
      Similarity.querySide(e, NQ), nProbe = 3, k = 5)
      .orderBy("q_id", "rn").collect().toSeq
    val mem = Similarity.ivfTopKWith(union, cb, NQ, nProbe = 3, k = 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(viaSnap == mem,
      "manifested intake snapshot diverged from in-memory IVF")
    // Row exactness through the snapshot: base + every fed row, no
    // resurrection of expired files, no loss through compactions.
    val snapRows = graft.operators.StoreManifest
      .snapshotRead(spark, vroot)
    val base = e.filter(col("vec_id") >= NQ && col("vec_id") % 4 === 1)
      .count()
    val fed = e.filter(col("vec_id") >= NQ).count()
    assert(snapRows.count() == base + fed)
    assert(snapRows.select("n_id").distinct().count() == base + fed)
  }

  test("manifested IVF intake: a crash between epoch marker and " +
    "manifest publish is healed on replay — the epoch's files reach " +
    "the snapshot instead of being orphaned forever") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-heal").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    val cb = Similarity.firstNCodebook(e, NQ, 8)
    Similarity.writeIvfStore(e.filter(col("vec_id") % 2 === 1), cb, NQ,
      store)
    val vroot = s"$store/vectors"
    assert(graft.operators.StoreManifest.currentVersion(spark, vroot)
      .contains(1L))
    val baseCount = graft.operators.StoreManifest
      .snapshotRead(spark, vroot).count()
    // Simulate the crash window: apply the epoch through appendEpoch
    // DIRECTLY (files land, marker written) but die before the
    // manifest publish that ivfIntakeBatch would have run next.
    val b = raw.filter(col("vec_id") >= NQ && col("vec_id") % 2 === 0)
    val placed = StoreIntake.appendEpoch(spark, store, "heal", 0L,
      destPrefix = "vectors") { sd =>
      Similarity.stageIvfEpoch(Similarity.prepared(b), store, sd)
    }
    assert(placed.exists(_.nonEmpty) &&
      StoreIntake.epochApplied(spark, store, "heal", 0L))
    assert(graft.operators.StoreManifest.snapshotRead(spark, vroot)
      .count() == baseCount,
      "crash-simulated epoch must not be visible yet (marker only)")
    // The streaming runtime replays the batch after the crash; the
    // replay must heal the manifest from the marker-held file list.
    StoreIntake.ivfIntakeBatch(store, "heal")(b, 0L)
    val healed = graft.operators.StoreManifest.snapshotRead(spark, vroot)
    assert(healed.count() == baseCount + b.count(),
      "replay must publish the marker-held files into the snapshot")
    // And a second replay is a pure no-op: no version churn, no dups.
    val vAfter = graft.operators.StoreManifest.currentVersion(spark,
      vroot)
    StoreIntake.ivfIntakeBatch(store, "heal")(b, 0L)
    assert(graft.operators.StoreManifest.currentVersion(spark, vroot)
      == vAfter, "an already-healed replay must not publish again")
    assert(graft.operators.StoreManifest.snapshotRead(spark, vroot)
      .count() == baseCount + b.count())
    // The heal must NOT resurrect an epoch whose files were published,
    // then compacted away and GC'd: replay after compaction + GC must
    // leave the manifest untouched (re-publishing deleted paths would
    // break every snapshot read).
    val cells = graft.operators.StoreManifest.files(spark, vroot).get
      .map(_.takeWhile(_ != '/').stripPrefix("cid=").toInt).distinct
    Similarity.compactIvfCellsSnapshot(spark, store, cells)
    graft.operators.StoreManifest.gcExpired(spark, vroot,
      keepVersions = 1)
    val vCompacted = graft.operators.StoreManifest.currentVersion(spark,
      vroot)
    StoreIntake.ivfIntakeBatch(store, "heal")(b, 0L)
    assert(graft.operators.StoreManifest.currentVersion(spark, vroot)
      == vCompacted,
      "a replay of a compacted-away epoch must not resurrect its files")
    assert(graft.operators.StoreManifest.snapshotRead(spark, vroot)
      .count() == baseCount + b.count())
  }

  test("orphan sweep: a crashed compaction's untracked files are " +
    "deleted, while live, expired-pending-GC, and ledger-protected " +
    "files all survive") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-sweep").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    val cb = Similarity.firstNCodebook(e, NQ, 8)
    Similarity.writeIvfStore(e.filter(col("vec_id") % 2 === 1), cb, NQ,
      store)
    val vroot = s"$store/vectors"
    assert(graft.operators.StoreManifest.currentVersion(spark, vroot)
      .contains(1L))
    val fs = new org.apache.hadoop.fs.Path(vroot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snapBefore = graft.operators.StoreManifest
      .snapshotRead(spark, vroot).count()
    // Plant the leak: a compact-* file that never made it into any
    // manifest version (copy of a live file under a fresh name).
    val aLive = graft.operators.StoreManifest.files(spark, vroot).get.head
    val orphanRel = aLive.takeWhile(_ != '/') +
      "/compact-deadbeef-orphan.parquet"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(vroot, aLive), fs,
      new org.apache.hadoop.fs.Path(vroot, orphanRel), false,
      spark.sessionState.newHadoopConf())
    // And the heal-window shape: an epoch applied (marker + files) but
    // not yet published — its files are unreferenced by the manifest
    // but MUST survive the sweep for the replay to heal.
    val b = raw.filter(col("vec_id") >= NQ && col("vec_id") % 2 === 0)
    val placed = StoreIntake.appendEpoch(spark, store, "sw", 0L,
      destPrefix = "vectors") { sd =>
      Similarity.stageIvfEpoch(Similarity.prepared(b), store, sd)
    }.get
    val swept = StoreIntake.sweepIvfUntracked(spark, store)
    assert(swept == Seq(orphanRel),
      s"sweep must delete exactly the orphan, got $swept")
    placed.map(_.stripPrefix("vectors/")).foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(vroot, rel)),
        s"ledger-protected epoch file swept: $rel")
    }
    assert(graft.operators.StoreManifest.snapshotRead(spark, vroot)
      .count() == snapBefore, "sweep must not change the snapshot")
    // The protected epoch still heals afterwards.
    StoreIntake.ivfIntakeBatch(store, "sw")(b, 0L)
    assert(graft.operators.StoreManifest.snapshotRead(spark, vroot)
      .count() == snapBefore + b.count())
    // An age threshold excludes everything just written.
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(vroot, aLive), fs,
      new org.apache.hadoop.fs.Path(vroot, orphanRel), false,
      spark.sessionState.newHadoopConf())
    assert(StoreIntake.sweepIvfUntracked(spark, store,
      olderThanMs = 3600000L).isEmpty,
      "a young orphan must survive an aged sweep")
    assert(StoreIntake.sweepIvfUntracked(spark, store)
      == Seq(orphanRel))
  }

  test("epoch-ledger compaction: old markers fold into one file with " +
    "semantics intact — applied-checks, replay skip, file lists, and " +
    "sweep protection all survive the fold") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-ivf-ledger").toString +
      "/ivf"
    val raw = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val e = Similarity.prepared(raw)
    val cb = Similarity.firstNCodebook(e, NQ, 8)
    Similarity.writeIvfStore(e.filter(col("vec_id") % 5 === 1), cb, NQ,
      store)
    // Five epochs (one empty) against the ledger.
    val batches = (0 until 5).map { i =>
      if (i == 3) raw.filter(lit(false))
      else raw.filter(col("vec_id") >= NQ && col("vec_id") % 5 === i)
        .withColumn("vec_id", col("vec_id") + lit((i + 1) * 1000000L))
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StoreIntake.ivfIntakeBatch(store, "lc")(b, i.toLong)
    }
    val epochsBefore = StoreIntake.appliedEpochs(spark, store)
    val ledgerBefore = StoreIntake.ledgerFiles(spark, store).toSet
    val rowsBefore = graft.operators.StoreManifest
      .snapshotRead(spark, s"$store/vectors").count()
    // Fold all but the newest 2 markers.
    assert(StoreIntake.compactEpochLedger(spark, store, keepLast = 2)
      == 3)
    val fsp = new org.apache.hadoop.fs.Path(s"$store/_epochs")
    val fs = fsp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(fsp).count(s =>
      !s.getPath.getName.startsWith(".")) == 2,
      "exactly keepLast marker files must remain")
    // Governance views and the protect set are unchanged by the fold.
    assert(StoreIntake.appliedEpochs(spark, store) == epochsBefore)
    assert(StoreIntake.ledgerFiles(spark, store).toSet == ledgerBefore)
    (0 until 5).foreach { i =>
      assert(StoreIntake.epochApplied(spark, store, "lc", i.toLong),
        s"epoch $i must stay applied after the fold")
    }
    // Replaying a FOLDED epoch is still a no-op (marker long gone).
    StoreIntake.ivfIntakeBatch(store, "lc")(batches(0), 0L)
    assert(graft.operators.StoreManifest
      .snapshotRead(spark, s"$store/vectors").count() == rowsBefore,
      "a replay of a consolidated epoch must append nothing")
    // A second compaction with nothing eligible is a no-op.
    assert(StoreIntake.compactEpochLedger(spark, store, keepLast = 2)
      == 0)
    // Fold the rest: zero live markers, everything still applied.
    assert(StoreIntake.compactEpochLedger(spark, store, keepLast = 0)
      == 2)
    assert(StoreIntake.appliedEpochs(spark, store) == epochsBefore)
    assert(StoreIntake.ledgerFiles(spark, store).toSet == ledgerBefore)
  }

  test("documents intake: epochs land under source partitions exactly " +
    "once with pruning intact; evolved epochs pass, type drift rejects") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-doc-intake").toString +
      "/docs"
    val docs = Tables.t(spark, dir, "documents")
    graft.operators.AtRestStores.writeDocumentsStore(
      docs.filter(col("doc_id") % 3 === 0), store)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
      .withColumn("ingest_batch", lit(1L))
    StoreIntake.documentsIntakeBatch(store, "dk")(b1, 0L)
    StoreIntake.documentsIntakeBatch(store, "dk")(b2, 1L)
    // Replays: no-ops.
    val files = listing(spark, store)
    StoreIntake.documentsIntakeBatch(store, "dk")(b1, 0L)
    assert(listing(spark, store) == files)
    val all = graft.operators.AtRestStores
      .documentsStoreEvolved(spark, store)
    assert(all.count() == docs.count())
    assert(all.filter(col("ingest_batch") === 1L).count() == b2.count())
    // Source pruning survives intake epochs.
    val one = docs.select("source").head().getString(0)
    val q = all.filter(col("source") === one)
    val scanStr = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("graft-doc-intake")).getOrElse("")
    assert(scanStr.contains("PartitionFilters"))
    assert(q.count() == docs.filter(col("source") === one).count())
    // Type drift on an evolved column rejects before staging.
    val ex = intercept[IllegalArgumentException] {
      StoreIntake.documentsIntakeBatch(store, "dk")(
        docs.limit(5).withColumn("ingest_batch", lit("oops")), 2L)
    }
    assert(ex.getMessage.contains("incompatible schema evolution"))
    assert(!StoreIntake.epochApplied(spark, store, "dk", 2L))
  }

  test("manifested documents intake: epochs publish snapshots, the " +
    "per-source compaction trigger bounds live files, GC reclaims " +
    "expired ones, and the snapshot equals the full corpus") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-doc-manif").toString +
      "/docs"
    val docs = Tables.t(spark, dir, "documents")
    graft.operators.AtRestStores.writeDocumentsStore(
      docs.filter(col("doc_id") % 5 === 0), store)
    assert(graft.operators.AtRestStores
      .publishDocumentsManifest(spark, store) == 1L)
    // Four epochs with an aggressive trigger so every source crosses
    // it repeatedly — compactions and GCs interleave with publishes.
    (1 until 5).foreach { i =>
      StoreIntake.documentsIntakeBatch(store, "dm", compactOver = 2)(
        docs.filter(col("doc_id") % 5 === i), i.toLong - 1)
    }
    val v = graft.operators.StoreManifest.currentVersion(spark, store)
    assert(v.exists(_ >= 5L), s"expected ≥5 manifest versions, got $v")
    val live = graft.operators.StoreManifest.files(spark, store).get
    val perSource = live.groupBy(_.takeWhile(_ != '/')).values
      .map(_.size)
    assert(perSource.max <= 3,
      s"live files per source exceeded the trigger: $perSource")
    // Snapshot = the full corpus, exactly once, with pruning intact.
    val snap = graft.operators.AtRestStores
      .documentsSnapshot(spark, store)
    assert(snap.count() == docs.count())
    assert(snap.select("doc_id").distinct().count() == docs.count())
    val one = docs.select("source").head().getString(0)
    assert(snap.filter(col("source") === one).count()
      == docs.filter(col("source") === one).count())
    // Replaying an applied epoch publishes nothing new.
    val vBefore = graft.operators.StoreManifest
      .currentVersion(spark, store)
    StoreIntake.documentsIntakeBatch(store, "dm", compactOver = 2)(
      docs.filter(col("doc_id") % 5 === 1), 0L)
    assert(graft.operators.StoreManifest.currentVersion(spark, store)
      == vBefore)
    assert(graft.operators.AtRestStores.documentsSnapshot(spark, store)
      .count() == docs.count())
    // The orphan sweep works on this store too: a crashed-compaction
    // leftover dies, everything live survives, the snapshot holds.
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val aLive = graft.operators.StoreManifest.files(spark, store).get.head
    val orphanRel = aLive.takeWhile(_ != '/') +
      "/compact-deadbeef-orphan.parquet"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(store, aLive), fs,
      new org.apache.hadoop.fs.Path(store, orphanRel), false,
      spark.sessionState.newHadoopConf())
    assert(StoreIntake.sweepDocumentsUntracked(spark, store)
      == Seq(orphanRel))
    assert(graft.operators.AtRestStores.documentsSnapshot(spark, store)
      .count() == docs.count())
  }

  test("term-stats intake: the log-structured store equals from-scratch " +
    "batch stats after every epoch, a fold compacts the log without " +
    "changing a number, and replays append nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val store = Files.createTempDirectory("graft-termstats").toString +
      "/ts"
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text").filter(col("text").isNotNull)
    // Adopt the manifest from the start: first epoch through the
    // intake, then pin.
    StoreIntake.termStatsIntakeBatch(store, "ts")(
      docs.filter(col("doc_id") % 4 === 0), 0L)
    assert(graft.operators.TermStatsStore
      .publishManifest(spark, store) == 1L)
    (1 until 4).foreach { i =>
      StoreIntake.termStatsIntakeBatch(store, "ts", compactOver = 3)(
        docs.filter(col("doc_id") % 4 === i), i.toLong)
    }
    // Incremental == from-scratch: same term table, same totals.
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("term").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaStore = canon(graft.operators.TermStatsStore
      .termStats(spark, store))
    val direct = canon(graft.operators.Pipeline.docTermsPlan(docs)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total")))
    assert(viaStore == direct,
      "incremental term stats diverged from a from-scratch tokenize")
    assert(graft.operators.TermStatsStore.docsCount(spark, store)
      == docs.count())
    // The in-loop fold bounded the log (3 partial files per epoch
    // would otherwise accumulate); numbers unchanged is asserted above
    // AFTER folds already ran. An explicit extra fold is also a no-op
    // on the stats.
    val live = graft.operators.StoreManifest
      .files(spark, s"$store/partials").get
    assert(live.size <= 4, s"log fold failed to bound files: $live")
    graft.operators.TermStatsStore.compact(spark, store)
    assert(canon(graft.operators.TermStatsStore
      .termStats(spark, store)) == direct)
    assert(graft.operators.TermStatsStore.docsCount(spark, store)
      == docs.count())
    // Replay of an applied epoch: ledger skip, stats untouched.
    StoreIntake.termStatsIntakeBatch(store, "ts", compactOver = 3)(
      docs.filter(col("doc_id") % 4 === 1), 1L)
    assert(canon(graft.operators.TermStatsStore
      .termStats(spark, store)) == direct)
    // GC reclaims expired partials; the snapshot still answers.
    graft.operators.StoreManifest.gcExpired(spark, s"$store/partials",
      keepVersions = 1)
    assert(canon(graft.operators.TermStatsStore
      .termStats(spark, store)) == direct)
  }

  test("term-stats intake with theta sidecars: the store's epoch-merged " +
    "source overlap equals the one-pass batch estimate, replays add no " +
    "sidecar rows, and the partials fold leaves sketches intact") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-termsk").toString + "/ts"
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "source").filter(col("text").isNotNull)
    StoreIntake.termStatsIntakeBatch(store, "ts", sketchSources = true)(
      docs.filter(col("doc_id") % 3 === 0), 0L)
    assert(graft.operators.TermStatsStore
      .publishManifest(spark, store) == 1L)
    (1 until 3).foreach { i =>
      StoreIntake.termStatsIntakeBatch(store, "ts", compactOver = 3,
        sketchSources = true)(docs.filter(col("doc_id") % 3 === i),
        i.toLong)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val viaStore = canon(graft.operators.TermStatsStore
      .sourceOverlapFromStore(spark, store))
    val direct = canon(graft.operators.ThetaSketches
      .sourceOverlapEstimates(
        graft.operators.Pipeline.docTermsPlan(docs)
          .join(docs.select("doc_id", "source"), "doc_id")))
    assert(viaStore == direct,
      "epoch-merged sketches diverged from the one-pass build")
    // Replay: ledger skips the whole epoch — sidecar row count frozen.
    val rowsBefore = spark.read.parquet(s"$store/sketches").count()
    StoreIntake.termStatsIntakeBatch(store, "ts", sketchSources = true)(
      docs.filter(col("doc_id") % 3 === 1), 1L)
    assert(spark.read.parquet(s"$store/sketches").count() == rowsBefore,
      "replay duplicated sidecar rows")
    // A partials fold + GC must not touch the sidecar answers.
    graft.operators.TermStatsStore.compact(spark, store)
    graft.operators.StoreManifest.gcExpired(spark, s"$store/partials",
      keepVersions = 1)
    assert(canon(graft.operators.TermStatsStore
      .sourceOverlapFromStore(spark, store)) == direct)
  }

  test("term-stats intake with KLL length sidecars: store-merged " +
    "quantiles equal the one-pass build, replays add no lenq rows, " +
    "and the partials fold leaves quantiles intact") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-termlq").toString + "/ts"
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "source").filter(col("text").isNotNull)
    StoreIntake.termStatsIntakeBatch(store, "ts", sketchLengths = true)(
      docs.filter(col("doc_id") % 3 === 0), 0L)
    assert(graft.operators.TermStatsStore
      .publishManifest(spark, store) == 1L)
    (1 until 3).foreach { i =>
      StoreIntake.termStatsIntakeBatch(store, "ts", compactOver = 3,
        sketchLengths = true)(docs.filter(col("doc_id") % 3 === i),
        i.toLong)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val viaStore = canon(graft.operators.TermStatsStore
      .sourceLengthQuantilesFromStore(spark, store))
    val direct = canon(graft.operators.QuantileSketches
      .sourceLengthQuantiles(docs))
    assert(viaStore == direct,
      "epoch-merged length sketches diverged from the one-pass build")
    // Replay: ledger skips the whole epoch — sidecar row count frozen.
    val rowsBefore = spark.read.parquet(s"$store/lenq").count()
    StoreIntake.termStatsIntakeBatch(store, "ts", sketchLengths = true)(
      docs.filter(col("doc_id") % 3 === 1), 1L)
    assert(spark.read.parquet(s"$store/lenq").count() == rowsBefore,
      "replay duplicated lenq sidecar rows")
    // A partials fold + GC must not touch the sidecar answers.
    graft.operators.TermStatsStore.compact(spark, store)
    graft.operators.StoreManifest.gcExpired(spark, s"$store/partials",
      keepVersions = 1)
    assert(canon(graft.operators.TermStatsStore
      .sourceLengthQuantilesFromStore(spark, store)) == direct)
  }

  test("term-stats intake: a kill mid-rename with BOTH sidecars staged " +
    "leaves no duplicate or orphaned sidecar rows after replay") {
    val spark = TestSpark.spark
    val store = Files.createTempDirectory("graft-termcr").toString + "/ts"
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text", "source").filter(col("text").isNotNull)
    // Mod-3 split (NOT parity: doc_id = src + 20k makes parity
    // correlate with source) so BOTH epochs cover every source — the
    // per-(epoch, source) sidecar-row assertion below needs that.
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 =!= 0)
    StoreIntake.termStatsIntakeBatch(store, "cr", sketchSources = true,
      sketchLengths = true, sketchHitters = true)(b0, 0L)
    // Epoch 1 killed after ONE rename: some subset of the partials +
    // theta + lenq + mg files landed, the ledger has no marker — the
    // multi-subdir crash window the intent record exists for.
    val ex = intercept[IllegalStateException] {
      StoreIntake.appendEpoch(spark, store, "cr", 1L,
        faultAfterMoves = 1) { sd =>
        graft.operators.TermStatsStore.stagePartials(b1, sd,
          sketchSources = true, sketchLengths = true,
          sketchHitters = true)
      }
    }
    assert(ex.getMessage.contains("injected"))
    assert(!StoreIntake.epochApplied(spark, store, "cr", 1L))
    // Crash-window visibility: whatever subset of epoch 1's files
    // landed has NO marker, so every sidecar reader must still answer
    // from epoch 0 alone — the same applied-only view the manifested
    // partials give the stats (a raw directory read would count the
    // orphans and contradict termStats until the replay).
    def lqCanon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    def hhCanon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(lqCanon(graft.operators.TermStatsStore
        .sourceLengthQuantilesFromStore(spark, store))
      == lqCanon(graft.operators.QuantileSketches
        .sourceLengthQuantiles(b0)),
      "a crashed, unapplied epoch leaked into the lenq sidecar answer")
    assert(hhCanon(graft.operators.TermStatsStore
        .hittersFromStore(spark, store))
      == hhCanon(graft.operators.HeavyHitters.termHeavyHitters(b0)),
      "a crashed, unapplied epoch leaked into the mg sidecar answer")
    // Replay converges: every answer equals a from-scratch build over
    // b0 ∪ b1, and each sidecar has exactly one row per (epoch,
    // source) — the killed attempt's landed files were redone, not
    // doubled.
    StoreIntake.termStatsIntakeBatch(store, "cr", sketchSources = true,
      sketchLengths = true, sketchHitters = true)(b1, 1L)
    assert(StoreIntake.epochApplied(spark, store, "cr", 1L))
    def tsCanon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tsCanon(graft.operators.TermStatsStore.termStats(spark, store))
      == tsCanon(graft.operators.TermStatsStore.partialsPlan(docs)
        .filter(col("term").isNotNull)
        .select(col("term"), col("df_d").as("df"),
          col("tf_d").as("tf_total"))),
      "post-crash stats diverged from a from-scratch build")
    val nSources = docs.select("source").distinct().count()
    Seq("sketches", "lenq").foreach { side =>
      val rows = spark.read.parquet(s"$store/$side")
        .groupBy("source").count().collect()
      assert(rows.length == nSources &&
        rows.forall(_.getLong(1) == 2L),
        s"$side sidecar must hold exactly 2 epochs per source: " +
          rows.mkString(","))
    }
    assert(lqCanon(graft.operators.TermStatsStore
        .sourceLengthQuantilesFromStore(spark, store))
      == lqCanon(graft.operators.QuantileSketches
        .sourceLengthQuantiles(docs)),
      "post-crash store quantiles diverged from the one-pass build")
    // The corpus-global MG sidecar: one row per epoch, and the merged
    // hitters equal the one-pass build (exact regime).
    assert(spark.read.parquet(s"$store/mg").count() == 2L,
      "mg sidecar must hold exactly one row per epoch")
    assert(hhCanon(graft.operators.TermStatsStore
        .hittersFromStore(spark, store))
      == hhCanon(graft.operators.HeavyHitters.termHeavyHitters(docs)),
      "post-crash store hitters diverged from the one-pass build")
  }

  test("signature intake: banded epochs land in the bucketed store " +
    "exactly once; stored rows equal a from-scratch banding and the " +
    "incremental probe matches the in-memory path") {
    val spark = TestSpark.spark
    val wh = Files.createTempDirectory("graft-sig-intake").toString
    val table = "sig_intake_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = Tables.t(spark, dir, "documents")
    val baseDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val b1 = docs.filter(col("doc_id") % 6 === 0)
      .select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") % 6 === 3)
      .select("doc_id", "text")
    Dedup.writeSignatureStore(Dedup.docShingles(baseDocs),
      s"$wh/sig", table)

    StoreIntake.signatureIntakeBatch(table, s"$wh/sig", "ck")(b1, 0L)
    StoreIntake.signatureIntakeBatch(table, s"$wh/sig", "ck")(b2, 1L)
    // Replays: no-ops, before any executor work.
    val files = listing(spark, s"$wh/sig")
    StoreIntake.signatureIntakeBatch(table, s"$wh/sig", "ck")(b1, 0L)
    StoreIntake.signatureIntakeBatch(table, s"$wh/sig", "ck")(b2, 1L)
    assert(listing(spark, s"$wh/sig") == files)

    // Stored signatures == banding the whole (base ∪ intake) corpus
    // from scratch.
    val store = Dedup.signatureStore(spark, table)
    val direct = Dedup.bandSignatures(Dedup.docShingles(docs))
    assert(store.exceptAll(direct).isEmpty &&
      direct.exceptAll(store).isEmpty,
      "stored bands diverge from a from-scratch banding")

    // The bucketed store keeps serving the incremental probe: same
    // verified pairs as the all-in-memory path for a fresh batch.
    val sh = Dedup.docShingles(docs)
    val incoming = sh.filter(col("doc_id") % 7 === 1)
    val viaStore = Dedup.incrementalNearDupPairs(sh, incoming, 4, 5,
      corpusBands = store).select("new_id", "corpus_id")
    val ref = Dedup.incrementalNearDupPairs(sh, incoming, 4, 5)
      .select("new_id", "corpus_id")
    assert(viaStore.exceptAll(ref).isEmpty &&
      ref.exceptAll(viaStore).isEmpty)
  }

  test("carryEpochLedger: a blue/green fold keeps applied epochs " +
    "applied — a re-delivered pre-fold batch is a no-op in the new " +
    "generation, a new epoch still lands, and WITHOUT the carry the " +
    "same re-delivery double-appends") {
    val spark = TestSpark.spark
    val wh = Files.createTempDirectory("graft-sig-carry").toString
    val docs = Tables.t(spark, dir, "documents")
    val baseDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val b1 = docs.filter(col("doc_id") % 6 === 0)
      .select("doc_id", "text")
    val b2 = docs.filter(col("doc_id") % 6 === 3)
      .select("doc_id", "text")
    Seq("sig_carry_t", "sig_carry_t_g1", "sig_carry_t_bare")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.writeSignatureStore(Dedup.docShingles(baseDocs),
      s"$wh/sig", "sig_carry_t")
    StoreIntake.signatureIntakeBatch("sig_carry_t", s"$wh/sig", "ck")(
      b1, 0L)

    // Fold blue/green with the ledger carried: the re-delivered
    // pre-fold epoch 0 must read as applied against the NEW generation
    // — byte-identical listing, no executor work re-staged.
    Dedup.compactSignatureStore(spark, s"$wh/sig", s"$wh/sig_g1",
      "sig_carry_t_g1")
    StoreIntake.carryEpochLedger(spark, s"$wh/sig", s"$wh/sig_g1")
    val files = listing(spark, s"$wh/sig_g1")
    StoreIntake.signatureIntakeBatch("sig_carry_t_g1", s"$wh/sig_g1",
      "ck")(b1, 0L)
    assert(listing(spark, s"$wh/sig_g1") == files,
      "re-delivered pre-fold epoch re-appended into the carried " +
        "generation")
    // Rows stay exactly base ∪ b1's bands — nothing doubled, nothing
    // lost by the fold.
    val direct = Dedup.bandSignatures(Dedup.docShingles(
      baseDocs.unionByName(docs.filter(col("doc_id") % 6 === 0))))
    val carried = Dedup.signatureStore(spark, "sig_carry_t_g1")
    assert(carried.exceptAll(direct).isEmpty &&
      direct.exceptAll(carried).isEmpty,
      "carried generation diverges from the from-scratch banding")
    // A genuinely NEW epoch still lands in the carried generation.
    StoreIntake.signatureIntakeBatch("sig_carry_t_g1", s"$wh/sig_g1",
      "ck")(b2, 1L)
    assert(listing(spark, s"$wh/sig_g1").size > files.size,
      "new epoch failed to land after the carry")

    // Negative control — the hazard the carry closes: fold WITHOUT
    // carrying the ledger, and the same re-delivery reads as new work
    // and double-appends.
    Dedup.compactSignatureStore(spark, s"$wh/sig", s"$wh/sig_bare",
      "sig_carry_t_bare")
    val bare = listing(spark, s"$wh/sig_bare")
    StoreIntake.signatureIntakeBatch("sig_carry_t_bare", s"$wh/sig_bare",
      "ck")(b1, 0L)
    assert(listing(spark, s"$wh/sig_bare").size > bare.size,
      "expected the uncarried generation to re-append (the control " +
        "that proves the carry is load-bearing)")
    val doubled = Dedup.signatureStore(spark, "sig_carry_t_bare")
    assert(doubled.count() > Dedup.bandSignatures(
      Dedup.docShingles(baseDocs.unionByName(
        docs.filter(col("doc_id") % 6 === 0)))).count(),
      "uncarried re-delivery should hold duplicated band rows")
    Seq("sig_carry_t", "sig_carry_t_g1", "sig_carry_t_bare")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
