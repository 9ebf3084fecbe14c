package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming intake → at-rest corpus stores, exactly-once (VERDICT r10
  * #1): the seam that connects the epoch-append stores (the
  * (band, sig)-bucketed signature table and the cell-partitioned IVF
  * vector store) to Structured Streaming's foreachBatch — the
  * production form of the reference's checkpoint+sink contract
  * (spark_consumer_kafka.py:131-157) applied to the corpus stores a
  * 100 TB pipeline lives by.
  *
  * foreachBatch delivery is at-least-once: a crash between the sink's
  * write and the checkpoint's offset commit replays the same
  * (batchId, data) on restart. The JDBC sink gets exactly-once from a
  * transactional ledger; a filesystem store has no transactions, so
  * this module builds the equivalent from atomic file primitives:
  *
  *  1. `_epochs/&lt;scope&gt;-&lt;batchId&gt;` marker — the ledger row.
  *     Present ⇒ the epoch is fully applied; the batch is a no-op.
  *  2. The epoch's files are first written to a stage directory
  *     (invisible to readers: dot-prefixed), then RENAMED into the
  *     store under names tagged with (scope, batchId).
  *  3. Before any rename, an intent record (`_epochs/.intent-…`)
  *     listing every destination path is persisted. A crash mid-rename
  *     leaves marker absent + intent present; the replay deletes
  *     exactly the listed paths (whichever subset landed), then
  *     re-stages — so a replayed epoch appends nothing twice, at store
  *     granularity. No recursive store listing is ever needed for
  *     recovery: the intent bounds the cleanup to one epoch's files.
  *  4. The marker is created (atomic create-if-absent) only after
  *     every rename succeeded; the intent is dropped after the marker.
  *
  * Crash matrix: before intent → only stage garbage (deterministic
  * path, deleted on replay); mid-renames → intent-guided cleanup +
  * redo; after marker → replay skips, leftover intent/stage lazily
  * swept by the skip path. Every crash point lands on "applied exactly
  * once" or "not applied, cleanly retryable".
  *
  * Concurrency contract (the stores' single-maintenance-writer rule):
  * ONE intake stream per store — foreachBatch invocations of a single
  * streaming query are serialized already. Readers racing an in-flight
  * epoch see a PREFIX of its files (renames are per-file): append
  * monotonicity, not isolation — probes wanting a consistent snapshot
  * read through the store manifest (StoreManifest) exactly as with
  * compaction. Scope binds the ledger to the checkpoint identity
  * (pass e.g. a hash of checkpointLocation): resetting a checkpoint
  * restarts batchIds at 0, and a fresh scope keeps those from reading
  * as replays of the old stream's epochs.
  */
object StoreIntake {

  /** Scope/tag sanitation: the tag rides inside file names that the
    * bucketed-file reader parses (bucket id = the LAST `_NNNNN` before
    * the extension), so the tag must never introduce `_` or `.`.
    */
  private def sanitize(scope: String): String = {
    val s = scope.map(c =>
      if (c.isLetterOrDigit && c < 128) c else '-')
    require(s.nonEmpty && s.length <= 120,
      s"scope must be 1..120 chars, got '$scope'")
    s
  }

  private def cleanScope(scope: String): String = {
    val s = sanitize(scope)
    // Sanitization is lossy ('job_1' and 'job.1' both map to 'job-1');
    // colliding scopes would share epoch tags, so one stream's applied
    // marker would silently skip the other's same-numbered batch. When
    // any character was replaced, append a short hash of the RAW scope
    // so distinct raw scopes stay distinct. Already-clean scopes keep
    // their historical tag (existing ledgers stay valid).
    if (s == scope) s
    else {
      val h = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(scope))
      s"$s-h$h"
    }
  }

  private def tag(scope: String, batchId: Long): String =
    s"epoch-${cleanScope(scope)}-$batchId"

  /** Every tag (scope, batchId) may be recorded under, newest-first:
    * the hash-suffixed current form, plus — for scopes the sanitizer
    * had to rewrite, on stores whose ledger PREDATES the hash upgrade
    * — the pre-hash legacy form, so a ledger written BEFORE the hash
    * suffix existed still reads as applied after an upgrade (a
    * replayed batch must skip, not double-append; the collision the
    * hash closes was silent data LOSS between two live colliding
    * streams, which legacy single-stream stores by definition never
    * had). New writes always use the current form.
    *
    * The legacy alias is gated on store provenance (ADVICE r12): a
    * dirty scope's legacy alias ('job.1' → 'epoch-job-1-N') EQUALS the
    * current tag of the colliding clean scope ('job-1'), so consulting
    * it unconditionally reopens the collision the hash closed — if
    * live stream 'job-1' applies batch N first, 'job.1' batch N reads
    * as applied and silently skips. Stores born under the current
    * format carry `_epochs/.format-v2` (stamped when [[appendEpoch]]
    * CREATES the `_epochs` dir) and never consult the alias; only
    * pre-upgrade stores — `_epochs` exists without the stamp — do,
    * and those by definition hold single-stream pre-hash history.
    */
  private def tagAliases(fs: FileSystem, root: Path, scope: String,
      batchId: Long): Seq[String] = {
    val cur = tag(scope, batchId)
    val legacy = s"epoch-${sanitize(scope)}-$batchId"
    if (legacy == cur || fs.exists(formatV2Path(root))) Seq(cur)
    else Seq(cur, legacy)
  }

  /** Format-provenance stamp: present iff the store's `_epochs` dir
    * was created by a post-hash-upgrade writer (see [[tagAliases]]).
    * Dot-prefixed, so every marker listing already skips it.
    */
  private def formatV2Path(root: Path): Path =
    new Path(new Path(root, "_epochs"), ".format-v2")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def appliedPath(root: Path): Path =
    new Path(new Path(root, "_epochs"), ".applied")

  private def readLines(fs: FileSystem, p: Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList
      finally in.close()
    }

  /** The consolidated ledger (`_epochs/.applied`): tag → placed files,
    * one `tag\tfile` line per file (`tag\t` for an empty epoch). Old
    * markers fold into it via [[compactEpochLedger]] with their FULL
    * semantics preserved — applied-check, heal file lists, sweep
    * protection all consult it.
    */
  private def appliedTmpPath(root: Path): Path =
    new Path(new Path(root, "_epochs"), ".applied-tmp")

  /** The ledger lines, crash-safe: the publish fallback in
    * [[compactEpochLedger]] deletes `.applied` before renaming
    * `.applied-tmp` over it (filesystems that refuse rename-onto), so a
    * crash in that window leaves ONLY the tmp — which holds the full
    * merged fold (a superset of the deleted ledger). Reading the tmp
    * when the ledger is absent means no crash point loses fold records:
    * folded epochs keep reading as applied, sidecar readers keep their
    * rows, and sweep protection holds.
    */
  private def appliedLines(fs: FileSystem, root: Path): Seq[String] = {
    val dest = appliedPath(root)
    if (fs.exists(dest)) readLines(fs, dest)
    else readLines(fs, appliedTmpPath(root))
  }

  private def readApplied(fs: FileSystem,
      root: Path): Map[String, Seq[String]] =
    appliedLines(fs, root)
      .filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('\t')
        if (i < 0) (l, "") else (l.substring(0, i), l.substring(i + 1))
      }
      .groupBy(_._1)
      .map { case (t, fl) => t -> fl.map(_._2).filter(_.nonEmpty) }

  /** True iff (scope, batchId) is recorded as fully applied — as a
    * live marker (the fast existence probe) or folded into the
    * consolidated ledger.
    */
  def epochApplied(spark: SparkSession, storeRoot: String, scope: String,
      batchId: Long): Boolean = {
    val root = new Path(storeRoot)
    val fs = fsOf(spark, root)
    tagAliases(fs, root, scope, batchId).exists(t =>
      fs.exists(new Path(new Path(root, "_epochs"), t)) ||
        readApplied(fs, root).contains(t))
  }

  /** The root-relative files an applied epoch placed, re-read from its
    * marker or the consolidated ledger. Empty for empty epochs AND for
    * markers written before the content carried the list (legacy
    * `files=N` lines are filtered by the caller's prefix check).
    */
  private[streaming] def markerFiles(spark: SparkSession,
      storeRoot: String, scope: String, batchId: Long): Seq[String] = {
    val root = new Path(storeRoot)
    val fs = fsOf(spark, root)
    tagAliases(fs, root, scope, batchId).collectFirst {
      case t if fs.exists(new Path(new Path(root, "_epochs"), t)) =>
        readLines(fs, new Path(new Path(root, "_epochs"), t))
          .filter(_.nonEmpty)
      case t if readApplied(fs, root).contains(t) =>
        readApplied(fs, root)(t)
    }.getOrElse(Seq.empty)
  }

  /** Recorded (scope, batchId) epochs under a store — live markers
    * plus consolidated-ledger entries, for governance ("which epochs
    * does this store hold?").
    */
  def appliedEpochs(spark: SparkSession,
      storeRoot: String): Seq[String] = {
    val root = new Path(storeRoot)
    val dir = new Path(root, "_epochs")
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else (fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")) ++
      readApplied(fs, root).keys).distinct.sorted
  }

  /** Every root-relative file any applied epoch placed — live markers
    * plus the consolidated ledger — the protect set for
    * StoreManifest.sweepUntracked (an applied-but-not-yet-published
    * epoch's files are unreferenced by the manifest until its replay
    * heals it, and a sweep must not eat them first).
    */
  def ledgerFiles(spark: SparkSession, storeRoot: String): Seq[String] = {
    val root = new Path(storeRoot)
    val fs = fsOf(spark, root)
    val dir = new Path(root, "_epochs")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap(s => readLines(fs, s.getPath).filter(_.nonEmpty)) ++
      readApplied(fs, root).values.flatten.toSeq
  }

  /** Fold all but the newest `keepLast` epoch markers into the
    * consolidated `.applied` ledger file (one line per placed file) and
    * delete them. A streaming intake writes one marker file per
    * micro-batch FOREVER — a year at one batch a minute is ~525k files
    * in `_epochs/`, which crushes listings (and object-store LIST
    * calls); after compaction the ledger is one file plus a bounded
    * marker tail. Semantics are preserved exactly: applied-checks, the
    * replay heal's file lists, and the sweep's protect set all read the
    * consolidated ledger too. Crash-safe: the new `.applied` lands via
    * tmp + atomic rename BEFORE any marker is deleted (a crash between
    * leaves a tag in both places — the merge dedupes). Runs in the
    * single-maintenance-writer window like every store maintenance op.
    * Returns the number of markers folded.
    */
  def compactEpochLedger(spark: SparkSession, storeRoot: String,
      keepLast: Int = 100): Int = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val root = new Path(storeRoot)
    val fs = fsOf(spark, root)
    val dir = new Path(root, "_epochs")
    if (!fs.exists(dir)) return 0
    // Heal a prior crash between delete(.applied) and the rename: the
    // surviving tmp IS the full fold record — promote it before this
    // run reads the ledger or overwrites the tmp with a new one.
    val destHeal = appliedPath(root)
    val tmpHeal = appliedTmpPath(root)
    if (!fs.exists(destHeal) && fs.exists(tmpHeal)) {
      require(fs.rename(tmpHeal, destHeal),
        s"could not recover consolidated ledger from $tmpHeal")
    }
    val markers = fs.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
    val fold = markers.dropRight(keepLast)
    if (fold.isEmpty) return 0
    val merged = readApplied(fs, root) ++ fold.map { s =>
      s.getPath.getName -> readLines(fs, s.getPath).filter(_.nonEmpty)
    }
    val lines = merged.toSeq.sortBy(_._1).flatMap { case (t, fl) =>
      if (fl.isEmpty) Seq(s"$t\t") else fl.map(f => s"$t\t$f")
    }
    val tmp = appliedTmpPath(root)
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dest = appliedPath(root)
    if (!fs.rename(tmp, dest)) {
      fs.delete(dest, false)
      require(fs.rename(tmp, dest),
        s"could not publish consolidated ledger at $dest")
    }
    fold.foreach(s => fs.delete(s.getPath, false))
    fold.size
  }

  /** Publish an applied epoch's fresh files into the manifest:
    * current live list + fresh, one pointer flip.
    */
  private[streaming] def publishFresh(spark: SparkSession,
      manifestRoot: String, fresh: Seq[String]): Unit =
    if (fresh.nonEmpty) {
      val live = graft.operators.StoreManifest
        .files(spark, manifestRoot).getOrElse(Seq.empty)
      graft.operators.StoreManifest.publish(spark, manifestRoot,
        live ++ fresh.filterNot(live.toSet)): Unit
    }

  /** The replay heal: publish an epoch's marker-held files ONLY if the
    * epoch was never published at all — i.e. none of its files appear
    * in ANY manifest version. A published epoch whose files were later
    * compacted away (expired + GC'd) must NOT be re-published: that
    * would resurrect deleted paths into the snapshot and break every
    * read.
    */
  private[streaming] def healMissing(spark: SparkSession,
      manifestRoot: String, fresh: Seq[String]): Unit =
    if (fresh.nonEmpty &&
      !fresh.exists(graft.operators.StoreManifest
        .everReferenced(spark, manifestRoot))) {
      publishFresh(spark, manifestRoot, fresh)
    }

  /** Operator-driven orphan sweep for a manifested IVF store: deletes
    * `vectors/` data files no manifest version references AND no
    * ledger marker protects — the compaction-crash leak (fresh
    * `compact-*` files staged+renamed, flip never published) documented
    * on compactIvfCellsSnapshot, closed. Returns deleted
    * vectors-relative paths.
    */
  def sweepIvfUntracked(spark: SparkSession, storePath: String,
      olderThanMs: Long = 0L): Seq[String] =
    graft.operators.StoreManifest.sweepUntracked(spark,
      s"$storePath/vectors",
      protect = ledgerFiles(spark, storePath)
        .filter(_.startsWith("vectors/")).map(_.stripPrefix("vectors/")),
      olderThanMs = olderThanMs)

  /** [[sweepIvfUntracked]] for a manifested documents store (whose
    * manifest root IS the store root): same ledger protection, same
    * age rail.
    */
  def sweepDocumentsUntracked(spark: SparkSession, storePath: String,
      olderThanMs: Long = 0L): Seq[String] =
    graft.operators.StoreManifest.sweepUntracked(spark, storePath,
      protect = ledgerFiles(spark, storePath)
        .filter(_.startsWith("source=")),
      olderThanMs = olderThanMs)

  /** Exactly-once staged append of one epoch into `storeRoot`.
    * `stageWrite` produces the epoch's files under the given stage
    * directory; every non-hidden file is then renamed to
    * `destPrefix/&lt;relative dir&gt;/&lt;tag&gt;-&lt;basename&gt;`
    * under the store root. Returns Some(placed root-relative paths)
    * iff this call applied the epoch; None = already-applied replay,
    * skipped before any executor work. (The placed list is what a
    * manifest publisher composes with — a directory RELISTING would
    * resurrect expired-but-not-GC'd files into the new version.)
    *
    * `faultAfterMoves` is test instrumentation: throw after N renames
    * to exercise the mid-batch-kill window.
    */
  private[graft] def appendEpoch(spark: SparkSession, storeRoot: String,
      scope: String, batchId: Long, destPrefix: String = "",
      faultAfterMoves: Int = Int.MaxValue)(
      stageWrite: String => Unit): Option[Seq[String]] = {
    val t = tag(scope, batchId)
    val root = new Path(storeRoot)
    val fs = fsOf(spark, root)
    val epochs = new Path(root, "_epochs")
    // Provenance stamp (see tagAliases): only a store whose ledger is
    // BORN here — `_epochs` did not exist — is v2-born; an existing
    // dir may hold pre-upgrade markers and must keep alias reads.
    // The stamp is created FIRST (create() makes the parent dir), so
    // no crash point leaves a v2-born `_epochs` without its stamp —
    // mkdirs-then-stamp had a window where the crashed store would
    // read as pre-upgrade forever and re-enter the alias hazard.
    if (!fs.exists(epochs))
      scala.util.Try(fs.create(formatV2Path(root), false).close())
    fs.mkdirs(epochs)
    val marker = new Path(epochs, t)
    val intent = new Path(epochs, s".intent-$t")
    val stageDir = new Path(root, s".intake-stage-$t")
    if (fs.exists(marker)) {
      // Fully applied: lazily sweep a leftover intent/stage from a
      // crash between marker create and intent delete.
      fs.delete(intent, false)
      fs.delete(stageDir, true)
      return None
    }
    // An epoch folded into the consolidated ledger is applied too — a
    // replay arriving after compactEpochLedger must skip, not
    // re-append. Legacy tag aliases (pre-hash-suffix ledgers) count
    // on pre-upgrade stores only (tagAliases' provenance gate): a
    // store written before the scope-hash upgrade must not
    // double-append on its first post-upgrade replay.
    if (tagAliases(fs, root, scope, batchId).exists(a =>
      (a != t && fs.exists(new Path(epochs, a))) ||
        readApplied(fs, root).contains(a))) return None
    if (fs.exists(intent)) {
      // Crash mid-renames: delete exactly the destinations the failed
      // attempt declared (whichever subset landed), then fall through
      // to a clean redo.
      val in = fs.open(intent)
      val declared =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      declared.filter(_.nonEmpty)
        .foreach(rel => fs.delete(new Path(root, rel), false))
      fs.delete(intent, false)
    }
    fs.delete(stageDir, true)
    stageWrite(stageDir.toString)
    // Enumerate staged data files (recursively; hidden files skipped —
    // _SUCCESS and friends) and their tagged destinations.
    def dataFiles(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) dataFiles(s.getPath)
        else Seq(s.getPath)
      }
    val stageUri = stageDir.toUri.getPath
    // An epoch with no rows stages nothing (stageWrite may not even
    // create the directory) — it still gets its marker below, so the
    // ledger stays contiguous.
    val staged =
      if (fs.exists(stageDir)) dataFiles(stageDir) else Seq.empty
    val pairs = staged.map { src =>
      val rel = src.toUri.getPath.stripPrefix(stageUri)
        .stripPrefix("/")
      val (dir, base) = rel.lastIndexOf('/') match {
        case -1 => ("", rel)
        case i => (rel.substring(0, i + 1), rel.substring(i + 1))
      }
      val destRel = (if (destPrefix.isEmpty) "" else s"$destPrefix/") +
        s"$dir$t-$base"
      (src, destRel)
    }
    // Persist the intent BEFORE any rename (tmp + atomic rename so a
    // half-written intent is never read as truth).
    val intentTmp = new Path(epochs, s".intent-tmp-$t")
    val out = fs.create(intentTmp, true)
    try out.write(pairs.map(_._2).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(intentTmp, intent),
      s"could not commit intent for $t")
    var moved = 0
    pairs.foreach { case (src, destRel) =>
      if (moved >= faultAfterMoves)
        throw new IllegalStateException(
          s"injected intake fault after $moved renames of $t")
      val dest = new Path(root, destRel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(src, dest), s"rename failed: $src -> $dest")
      moved += 1
    }
    // The ledger row: atomic create-if-absent, only after every file
    // landed. Content = the placed root-relative paths, so a replay
    // can re-derive what this epoch contributed (the manifest-heal
    // path below needs exactly that after a crash between marker
    // create and manifest publish).
    val m = fs.create(marker, false)
    try m.write(pairs.map(_._2).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally m.close()
    fs.delete(intent, false)
    fs.delete(stageDir, true)
    Some(pairs.map(_._2))
  }

  /** foreachBatch body: append one micro-batch of (vec_id, embedding)
    * vectors to an IVF store (Similarity.writeIvfStore layout, born
    * manifested) under the exactly-once epoch ledger. Assignment runs
    * against the codebook in force (broadcast, KB-sized — cells never
    * move on intake), files land tagged under their cell directories,
    * resident files are never touched, and the epoch publishes
    * COMPOSITIONALLY: current live list + this epoch's placed files.
    * Snapshot readers advance to old ∪ new in one pointer flip (never
    * a partial epoch) — and never a resurrected expired file, which a
    * directory relist would drag back in between compaction and GC.
    * With `compactOver > 0`, any cell whose LIVE file count crossed it
    * is snapshot-compacted after the append, and expired files from
    * versions at least two flips old are collected (the previous
    * version's in-flight readers stay whole) — intake and maintenance
    * share the single-writer window by construction here, both inside
    * the serialized foreachBatch. A directory without a manifest is
    * rejected before anything is staged or recorded.
    */
  def ivfIntakeBatch(storePath: String, scope: String,
      compactOver: Int = 0)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val vectorsRoot = s"$storePath/vectors"
    require(graft.operators.StoreManifest
      .currentVersion(spark, vectorsRoot).isDefined,
      s"$vectorsRoot carries no manifest — build the store with " +
        "Similarity.writeIvfStore before streaming into it")
    if (batch.isEmpty) {
      if (!epochApplied(spark, storePath, scope, batchId))
        appendEpoch(spark, storePath, scope, batchId)(_ => ()): Unit
      return
    }
    val placed = appendEpoch(spark, storePath, scope, batchId,
      destPrefix = "vectors") { stageDir =>
      graft.operators.Similarity.stageIvfEpoch(
        graft.operators.Similarity.prepared(batch), storePath, stageDir)
    }
    placed match {
      case Some(p) =>
        publishFresh(spark, vectorsRoot,
          p.filter(_.startsWith("vectors/"))
            .map(_.stripPrefix("vectors/")))
      // On a REPLAY the epoch's files come back from its marker: a
      // crash between marker create and the publish would otherwise
      // orphan the epoch from every future snapshot — heal it (unless
      // the epoch WAS published and its files have since been
      // compacted away, which healMissing distinguishes).
      case None =>
        healMissing(spark, vectorsRoot,
          markerFiles(spark, storePath, scope, batchId)
            .filter(_.startsWith("vectors/"))
            .map(_.stripPrefix("vectors/")))
    }
    if (placed.isDefined && compactOver > 0) {
      val hot = graft.operators.Similarity.ivfCellFiles(spark, storePath)
        .collect { case (cid, n) if n > compactOver => cid }
      if (hot.nonEmpty) {
        graft.operators.Similarity.compactIvfCellsSnapshot(spark,
          storePath, hot)
        graft.operators.StoreManifest.gcExpired(spark, vectorsRoot,
          keepVersions = 2): Unit
      }
    }
  }

  /** foreachBatch body: append one micro-batch of document rows
    * (carrying the `source` partition column) to the source-partitioned
    * documents store (AtRestStores layout) under the exactly-once
    * epoch ledger — the third store's intake, same machinery. Additive
    * schema evolution passes (old epochs read new columns as null via
    * documentsStoreEvolved); type changes reject loudly before any
    * file stages.
    */
  def documentsIntakeBatch(storePath: String, scope: String,
      compactOver: Int = 0)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) {
      if (!epochApplied(spark, storePath, scope, batchId))
        appendEpoch(spark, storePath, scope, batchId)(_ => ()): Unit
      return
    }
    val placed = appendEpoch(spark, storePath, scope, batchId) {
      stageDir =>
        graft.operators.Similarity.assertEvolvableSchema(
          graft.operators.AtRestStores
            .documentsStoreEvolved(spark, storePath).schema, batch.schema)
        // Keyed by the partition column before the write (r18, guide
        // §6): un-repartitioned, every task writes one file per source
        // it holds — measured 142 files (median 1.2 KB) for ONE
        // fixture epoch of ~350 rows, each paying a task commit, an
        // individual ledger rename, an intent line, and a manifest
        // list entry. Hash-clustering on `source` bounds an epoch to
        // one file per source at any input width, while the
        // small-files growth the per-source compaction exists to fold
        // stays bounded at the source, not repaired after. Nothing
        // bounds per-source file SIZE yet: maxRecordsPerFile is not
        // set, so one hot source is one write task and one file.
        // Repartitioning on (source, hash slice) is the lever that
        // splits it.
        batch.repartition(col("source"))
          .write.partitionBy("source").mode("overwrite")
          .parquet(stageDir)
    }
    val applied = placed.isDefined
    val manifested = graft.operators.StoreManifest
      .currentVersion(spark, storePath).isDefined
    if (manifested) {
      // Compositional publish + the replay heal, exactly the IVF-store
      // contract: a crash between marker and publish is repaired from
      // the marker-held file list; an epoch that was published and
      // later compacted away is NOT resurrected (healMissing).
      placed match {
        case Some(p) =>
          publishFresh(spark, storePath, p.filter(_.startsWith("source=")))
        case None =>
          healMissing(spark, storePath,
            markerFiles(spark, storePath, scope, batchId)
              .filter(_.startsWith("source=")))
      }
      if (applied && compactOver > 0) {
        val nowLive = graft.operators.StoreManifest
          .files(spark, storePath).getOrElse(Seq.empty)
        val hot = nowLive.groupBy(_.takeWhile(_ != '/'))
          .collect { case (p, fl)
            if p.startsWith("source=") && fl.size > compactOver =>
            p.stripPrefix("source=") }
          .toSeq
        if (hot.nonEmpty) {
          graft.operators.AtRestStores.compactDocumentsSources(spark,
            storePath, hot)
          graft.operators.StoreManifest.gcExpired(spark, storePath,
            keepVersions = 2): Unit
        }
      }
    }
  }

  /** foreachBatch body: append one micro-batch's TERM-STATS partials
    * (per-term df/tf deltas + the doc-count row —
    * operators.TermStatsStore) to the log-structured stats store under
    * the exactly-once epoch ledger. With a manifest adopted, epochs
    * publish compositionally (replay heal / no-resurrection included),
    * and `compactOver` live files trigger the log fold + GC in-loop —
    * the LSM maintenance cadence inside the serialized writer window.
    */
  def termStatsIntakeBatch(storePath: String, scope: String,
      compactOver: Int = 0, sketchSources: Boolean = false,
      sketchLengths: Boolean = false, sketchHitters: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) {
      if (!epochApplied(spark, storePath, scope, batchId))
        appendEpoch(spark, storePath, scope, batchId)(_ => ()): Unit
      return
    }
    val placed = appendEpoch(spark, storePath, scope, batchId) {
      stageDir =>
        graft.operators.TermStatsStore.stagePartials(batch, stageDir,
          sketchSources, sketchLengths, sketchHitters)
    }
    val root = s"$storePath/partials"
    val manifested = graft.operators.StoreManifest
      .currentVersion(spark, root).isDefined
    if (manifested) {
      placed match {
        case Some(p) =>
          publishFresh(spark, root, p.filter(_.startsWith("partials/"))
            .map(_.stripPrefix("partials/")))
        case None =>
          healMissing(spark, root,
            markerFiles(spark, storePath, scope, batchId)
              .filter(_.startsWith("partials/"))
              .map(_.stripPrefix("partials/")))
      }
      if (placed.isDefined && compactOver > 0) {
        val live = graft.operators.StoreManifest
          .files(spark, root).getOrElse(Seq.empty)
        if (live.size > compactOver) {
          graft.operators.TermStatsStore.compact(spark, storePath)
          graft.operators.StoreManifest.gcExpired(spark, root,
            keepVersions = 2): Unit
        }
      }
    }
  }

  /** foreachBatch body: band one micro-batch of (doc_id, text)
    * documents and append its (doc_id, band, sig) signatures to the
    * bucketed signature store (Dedup.writeSignatureStore layout) under
    * the exactly-once epoch ledger. The staged write goes through a
    * throwaway EXTERNAL table (bucketBy requires saveAsTable) whose
    * catalog entry is dropped immediately — only its bucket-named
    * files move, tags preserving the `_NNNNN` suffix the bucketed
    * reader parses, so the store keeps its one-sided-exchange probe
    * across any number of intake epochs.
    */
  def signatureIntakeBatch(table: String, tablePath: String,
      scope: String, buckets: Int = 16)(batch: DataFrame,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    if (batch.isEmpty) {
      if (!epochApplied(spark, tablePath, scope, batchId))
        appendEpoch(spark, tablePath, scope, batchId)(_ => ()): Unit
      return
    }
    val applied = appendEpoch(spark, tablePath, scope,
      batchId) { stageDir =>
      val sh = batch
        .withColumn("sh", expr("shingles3(norm_tokens(text))"))
        .select(col("doc_id"), col("sh"))
        .filter(size(col("sh")) > 0)
      val bands = graft.operators.Dedup.bandSignatures(sh)
      val tmpTable = table + "_intake_stage"
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
      // One file per bucket per epoch at any input width (r18, guide
      // §6): bucketBy writes one file per (task × bucket), so a
      // wide upstream would stage up to width × buckets tiny files
      // per intake epoch. Repartitioning by the bucket keys into
      // `buckets` partitions aligns tasks with buckets (same murmur3
      // hash family), pinning the epoch's file count to the bucket
      // count — the layout the one-sided-exchange probe reads anyway.
      bands.repartition(buckets, col("band"), col("sig"))
        .write.format("parquet")
        .bucketBy(buckets, "band", "sig").sortBy("band", "sig")
        .option("path", stageDir).mode("overwrite").saveAsTable(tmpTable)
      // External table: dropping the catalog entry leaves the files.
      spark.sql(s"DROP TABLE $tmpTable")
    }
    // The catalog caches the table's file listing; new files are
    // invisible to spark.table(table) until refreshed.
    if (applied.isDefined) spark.catalog.refreshTable(table)
  }

  /** Carry the exactly-once epoch ledger across a BLUE/GREEN store
    * rewrite (Dedup.compactSignatureStore and kin rebuild into a fresh
    * path): the fold changes the LAYOUT, never which (scope, batchId)
    * epochs are applied — without the carried ledger, a re-delivered
    * pre-fold batch would read as new and re-append rows the compacted
    * files already hold. Copies the applied markers, the consolidated
    * `.applied` ledger, and the format stamp; transient `.intent-*`
    * records are deliberately left behind (an intent names the OLD
    * store's destination paths — carrying one would aim a replay's
    * cleanup at paths that mean something else post-fold, and the
    * single-maintenance-writer rule guarantees no epoch is mid-flight
    * while the fold runs).
    */
  def carryEpochLedger(spark: SparkSession, fromRoot: String,
      toRoot: String): Unit = {
    val from = new Path(new Path(fromRoot), "_epochs")
    val fs = fsOf(spark, from)
    if (!fs.exists(from)) return
    val to = new Path(new Path(toRoot), "_epochs")
    fs.mkdirs(to): Unit
    val conf = spark.sessionState.newHadoopConf()
    fs.listStatus(from).foreach { s =>
      val name = s.getPath.getName
      if (s.isFile && !name.startsWith(".intent-"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, s.getPath, fs, new Path(to, name), false, true, conf): Unit
    }
  }
}
