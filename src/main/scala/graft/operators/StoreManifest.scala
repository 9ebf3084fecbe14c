package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot manifests for the at-rest stores (VERDICT r10 #6): plain
  * directory listings are only APPEND-consistent — a reader racing a
  * compaction's swap window can list a cell with old files already
  * moved out and new ones not yet in, i.e. a half-swapped bucket. The
  * fix is the transactional-table-format move in miniature: readers
  * resolve a MANIFEST (an immutable file list) and read exactly those
  * files; writers publish a new manifest version and flip one pointer.
  *
  * Layout under the manifested directory (the IVF store's `vectors/`):
  *
  *   _manifest/v&lt;N&gt;.list    — store-relative data-file paths, one
  *                             per line; immutable once written
  *   _manifest/v&lt;N&gt;.expired — files REPLACED by version N (a
  *                             compaction's inputs); GC candidates
  *   _manifest/LATEST        — the current version number, replaced by
  *                             tmp-write + rename (atomic on POSIX; a
  *                             reader sees the old or the new pointer,
  *                             never a torn one)
  *
  * The snapshot contract: compaction WRITES its replacement files
  * under fresh names (never moving or deleting live ones), publishes
  * v(N+1) = v(N) − replaced + fresh, and only a later, explicitly
  * operator-driven [[gcExpired]] deletes replaced files — after
  * in-flight readers of old versions have drained (snapshot expiry,
  * the Iceberg/Delta cadence). A reader that resolved ANY version
  * therefore always finds its full file list on disk: results equal
  * pre- or post-compaction state, never a mix.
  *
  * Single-writer contract (same as the stores'): one publisher at a
  * time — version numbers are assigned read-modify-write. Readers are
  * unlimited and lock-free.
  */
object StoreManifest {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def mdir(root: String) = new Path(root, "_manifest")

  /** Current published version, if the directory is manifested.
    *
    * A missing LATEST does NOT mean "unmanifested" when v*.list files
    * exist: the delete-before-rename fallback in [[publish]] (taken on
    * HDFS-semantics filesystems) has a crash window after delete(LATEST)
    * and before the rename lands. Defaulting to None there would make
    * readers fall back to listing-based reads (double-counting
    * expired-but-unGC'd files) and make the next publish restart at v1,
    * overwriting v1.list and corrupting everReferenced/gcExpired. So:
    * recover the version as max(v&lt;N&gt;.list) on disk — list files are
    * immutable and written BEFORE the pointer flip, so the max is always
    * ≥ the version any crashed flip was publishing.
    */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val latest = new Path(mdir(root), "LATEST")
    val fs = fsOf(spark, latest)
    if (fs.exists(latest)) {
      val in = fs.open(latest)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    } else maxListVersion(fs, mdir(root))
  }

  /** Highest v&lt;N&gt;.list present on disk, or None if the directory is
    * genuinely unmanifested. Crash-recovery source of truth for
    * [[currentVersion]].
    */
  private def maxListVersion(fs: FileSystem, dir: Path): Option[Long] =
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).iterator.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("v") && n.endsWith(".list"))
          scala.util.Try(n.stripPrefix("v").stripSuffix(".list").toLong)
            .toOption
        else None
      }.toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }

  private def readList(fs: FileSystem, p: Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }

  /** The file list of `version` (or the current one). Paths are
    * root-relative.
    */
  def files(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[Seq[String]] = {
    val fs = fsOf(spark, mdir(root))
    version.orElse(currentVersion(spark, root))
      .map(v => readList(fs, new Path(mdir(root), s"v$v.list")))
  }

  /** Publish a new version whose list is `fileList` (root-relative),
    * recording `expired` as the files this version replaced. Returns
    * the new version number.
    *
    * Every version also records its OPERATION TYPE (`v&lt;N&gt;.op` —
    * the Iceberg snapshot-operation cadence): `append` when it only
    * adds files, `compact` when it replaced any (a compaction's fresh
    * files RESTATE old rows — they carry no new data). The tag is
    * immutable and never GC'd, so [[deltaRead]] can classify versions
    * long after `v&lt;N&gt;.expired` was consumed by [[gcExpired]].
    *
    * PUBLISHER CONTRACT: a version with non-empty `expired` must ONLY
    * restate — its fresh files may not carry rows absent from the
    * previous version. [[deltaRead]] skips compact versions wholesale,
    * so a combined rewrite+append publish would silently hide the
    * appended rows from every incremental consumer (file-level deltas
    * cannot tell restating files from new-data files). The API makes
    * that combination UNREPRESENTABLE (ADVICE r15): `publish` is the
    * append entry point and rejects a non-empty `expired`;
    * restating versions go through [[publishCompact]], whose name IS
    * the contract. Maintenance that both adds and rewrites publishes
    * TWO versions: the append first, then the compaction — which is
    * what every publisher here does (epoch appends via StoreIntake,
    * folds via compact*Snapshot).
    */
  def publish(spark: SparkSession, root: String,
      fileList: Seq[String]): Long =
    publishVersion(spark, root, fileList, expired = Seq.empty)

  /** Publish a RESTATING version: `fileList` replaces the files in
    * `expired` without adding or removing any row (the compaction
    * shape). Tagged `compact`, so [[deltaRead]] skips it wholesale —
    * publishing new data through here hides it from every incremental
    * consumer; that is the caller's contract to honor, and the split
    * entry points exist so it cannot happen by accident.
    */
  def publishCompact(spark: SparkSession, root: String,
      fileList: Seq[String], expired: Seq[String]): Long = {
    require(expired.nonEmpty,
      "publishCompact requires the replaced files; a version that " +
        "expires nothing is an append — use publish")
    publishVersion(spark, root, fileList, expired)
  }

  private def publishVersion(spark: SparkSession, root: String,
      fileList: Seq[String], expired: Seq[String]): Long = {
    val dir = mdir(root)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val v = currentVersion(spark, root).getOrElse(0L) + 1
    def write(p: Path, lines: Seq[String]): Unit = {
      val out = fs.create(p, true)
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
    write(new Path(dir, s"v$v.list"), fileList)
    write(new Path(dir, s"v$v.op"),
      Seq(if (expired.nonEmpty) "compact" else "append"))
    if (expired.nonEmpty) write(new Path(dir, s"v$v.expired"), expired)
    // Pointer flip: tmp + rename. POSIX rename REPLACES an existing
    // destination atomically (readers see old or new, never absent) —
    // try that first; filesystems whose rename refuses an existing
    // destination (HDFS semantics) fall back to delete + rename. The
    // fallback's absent window (including a crash inside it) is
    // covered by currentVersion's max(v*.list) recovery: list files
    // are immutable and written BEFORE the flip, so readers resolve
    // the correct version and a later publish continues the line
    // (LedgerRecoverySpec).
    val tmp = new Path(dir, s".LATEST-tmp-$v")
    write(tmp, Seq(v.toString))
    val latest = new Path(dir, "LATEST")
    if (!fs.rename(tmp, latest)) {
      fs.delete(latest, false)
      require(fs.rename(tmp, latest), s"could not flip manifest to v$v")
    }
    v
  }

  /** Root-relative listing of the directory's CURRENT data files —
    * what an initial publish or an append-publisher snapshots.
    */
  def listDataFiles(spark: SparkSession, root: String): Seq[String] = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val rootUri = rp.toUri.getPath
    val b = Seq.newBuilder[String]
    val it = fs.listFiles(rp, true)
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(rootUri)
        .stripPrefix("/")
      if (!rel.split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith(".")))
        b += rel
    }
    b.result().sorted
  }

  /** Read the current snapshot as a DataFrame: exactly the manifest's
    * files, with `root` as basePath so directory-encoded partition
    * columns (`cid=N`) still resolve AND prune. Throws if the
    * directory is not manifested.
    */
  def snapshotRead(spark: SparkSession, root: String): DataFrame =
    snapshotReadAsOf(spark, root,
      currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(
          s"$root carries no manifest — publish one first")))

  /** Time-travel read: exactly version `version`'s file list — the
    * reader-visible payoff of the snapshot contract (versions are
    * immutable lists, compactions never move or delete live files,
    * and only [[gcExpired]] reclaims replaced ones). Any version whose
    * expired files have not been GC'd reconstructs its full historical
    * state; a version older than the GC retention window fails loudly
    * at read time (its files are gone), never silently partially.
    *
    * A version OUTSIDE the published line rejects loudly; a version in
    * the line that legitimately lists no files (a store born empty —
    * the signature-store pattern) returns an EMPTY frame, with the
    * schema inferred from the nearest version that does list files
    * (ADVICE r14: the two cases used to share one error).
    * `mergeSchema` unions every file's columns (additively evolved
    * epochs) at a footer read per file; off, one file's schema binds.
    */
  def snapshotReadAsOf(spark: SparkSession, root: String,
      version: Long, mergeSchema: Boolean = false): DataFrame = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$root carries no manifest — publish one first"))
    require(version >= 1 && version <= cur,
      s"manifest at $root has no version $version (published line " +
        s"1..$cur)")
    val fl = files(spark, root, Some(version)).getOrElse(Seq.empty)
    val reader = spark.read.option("basePath", root)
    if (fl.nonEmpty)
      (if (mergeSchema) reader.option("mergeSchema", "true") else reader)
        .parquet(fl.map(f => s"$root/$f"): _*)
    else emptyWithStoreSchema(spark, root, cur,
      s"version $version lists no files and no version ever has")
  }

  /** Zero-row frame carrying the store's schema, inferred from the
    * LATEST published version that lists any file — the latest because
    * (a) its files are the live list and cannot have been GC'd (an
    * early version's may be — reading them would crash the promised
    * no-op answer), and (b) under additive evolution the latest schema
    * is the widest. Throws `what` when the whole line is fileless (no
    * schema exists to infer).
    */
  private def emptyWithStoreSchema(spark: SparkSession, root: String,
      cur: Long, what: String): DataFrame = {
    val fs = fsOf(spark, mdir(root))
    val donor = (cur to 1L by -1L).iterator
      .map(v => readList(fs, new Path(mdir(root), s"v$v.list")))
      .find(_.nonEmpty)
    donor match {
      case Some(fl) => spark.read.option("basePath", root)
        .parquet(fl.map(f => s"$root/$f"): _*).limit(0)
      case None => throw new IllegalStateException(
        s"manifest at $root: $what — cannot infer a schema")
    }
  }

  /** Incremental read between two snapshot versions: exactly the rows
    * the range's APPEND versions added — the manifest IS the
    * changelog, so an incremental consumer (the Iceberg
    * incremental-scan cadence) processes a year of epochs by reading
    * each delta's files and nothing else.
    *
    * The range may CROSS a compaction (VERDICT r14 next-round #5): the
    * walk classifies each version by its recorded operation (`v.op`,
    * or the `v.expired` record on pre-tag stores) — `append` versions
    * contribute their fresh files; `compact` versions are SKIPPED
    * entirely, because a compaction's fresh files only RESTATE rows
    * already counted (the snapshot-compaction contract, spec-pinned as
    * pre ≡ post row equivalence in StoreMaintenanceSpec). An appended
    * file later replaced by an in-range compaction is still read from
    * its ORIGINAL path — retention keeps it until [[gcExpired]]; a
    * range whose appended files fell past retention rejects loudly
    * with the GC'd paths named, never silently partially. A version
    * that removed files but cannot be classified as a compaction
    * (legacy store, tag and expired record both gone) also rejects
    * loudly — unknown rewrite semantics must not be guessed at.
    *
    * A legitimate NO-OP delta (the range appends nothing — e.g. a
    * republish or a compaction-only window) returns an EMPTY frame
    * with the store's schema (ADVICE r14), not an error: incremental
    * consumers poll on a cadence and "nothing new" is a normal answer.
    */
  def deltaRead(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"delta range must ascend, got v$fromVersion..v$toVersion")
    // Versions are dense 1..current (publish assigns sequentially,
    // recovery takes the max list on disk), so bounding the range
    // against the current version guarantees every step's list file
    // exists — a nonexistent fromVersion would otherwise read as an
    // empty list and return the whole toVersion snapshot as the
    // "delta" (every historical row double-ingested). A legitimately
    // EMPTY early version (a store born empty, the signature-store
    // pattern) stays valid: existence is checked by range, not by
    // list length.
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$root carries no manifest — publish one first"))
    require(fromVersion >= 1 && toVersion <= cur,
      s"delta range v$fromVersion..v$toVersion outside the published " +
        s"line 1..$cur")
    val fs = fsOf(spark, mdir(root))
    def listOf(v: Long): Seq[String] =
      files(spark, root, Some(v)).getOrElse(Seq.empty)
    def opOf(v: Long): Option[String] = {
      val op = new Path(mdir(root), s"v$v.op")
      if (fs.exists(op)) Some(readList(fs, op).headOption
        .getOrElse("").trim)
      else if (fs.exists(new Path(mdir(root), s"v$v.expired")))
        Some("compact")
      else None
    }
    val appended = Seq.newBuilder[String]
    var prev = listOf(fromVersion).toSet
    (fromVersion + 1 to toVersion).foreach { v =>
      val curList = listOf(v)
      val removed = prev -- curList.toSet
      val isCompact = opOf(v).contains("compact")
      require(removed.isEmpty || isCompact,
        s"v$v removed ${removed.size} files but is not recorded as a " +
          "compaction — unknown rewrite semantics; read a full " +
          "snapshot instead")
      if (!isCompact) appended ++= curList.filterNot(prev)
      prev = curList.toSet
    }
    val fresh = appended.result().distinct
    if (fresh.isEmpty)
      return emptyWithStoreSchema(spark, root, cur,
        s"v$fromVersion..v$toVersion appends nothing and no version " +
          "ever listed a file")
    // Appended-then-compacted files must still exist (retention): a
    // consumer reading past the GC window gets the honest rejection,
    // not a partial delta.
    val gone = fresh.filterNot(f => fs.exists(new Path(root, f)))
    require(gone.isEmpty,
      s"v$fromVersion..v$toVersion: ${gone.size} appended files were " +
        s"GC'd past retention (${gone.take(3).mkString(", ")}…); " +
        "read a full snapshot instead")
    spark.read.option("basePath", root)
      .parquet(fresh.map(f => s"$root/$f"): _*)
  }

  /** Union of EVERY version's file list — whether a path was ever
    * published, not merely whether it is live now. The intake replay
    * heal needs exactly this distinction: an epoch absent from the
    * LIVE list may be a marker-publish crash (heal it) or may have
    * been published long ago and since compacted away + GC'd
    * (re-publishing would resurrect deleted paths into the manifest).
    * Version list files are never deleted, so the union is complete.
    */
  def everReferenced(spark: SparkSession, root: String): Set[String] = {
    val fs = fsOf(spark, mdir(root))
    val cur = currentVersion(spark, root).getOrElse(return Set.empty)
    (1L to cur)
      .flatMap(v => readList(fs, new Path(mdir(root), s"v$v.list")))
      .toSet
  }

  /** Snapshot compaction over a directory-partitioned, manifested
    * store — the generic form of the IVF cell compaction, shared with
    * the documents store: the named partition directories' rows (read
    * from the CURRENT manifest snapshot) are rewritten into fresh
    * files placed UNDER NEW NAMES next to the live ones — nothing is
    * moved or deleted — and a new manifest version swaps the partition
    * file sets in one atomic pointer flip. Replaced files stay as the
    * new version's `expired` set until [[gcExpired]].
    *
    * `partValues` are directory names like `cid=3` / `source=src1`
    * (all must share one partition column). Returns the published
    * version; a crash between the staged renames and the flip leaks
    * untracked `compact-*` files — [[sweepUntracked]] collects them.
    */
  def compactPartitionsSnapshot(spark: SparkSession, root: String,
      partValues: Set[String],
      layout: Option[DataFrame => DataFrame] = None): Long = {
    val cur = files(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$root is not manifested — publish a manifest first"))
    if (partValues.isEmpty)
      return currentVersion(spark, root).getOrElse(0L)
    val partCols = partValues.map(_.takeWhile(_ != '='))
    require(partCols.size == 1 && !partCols.head.isEmpty,
      s"partValues must share one partition column, got $partValues")
    val (replaced, kept) = cur.partition(rel =>
      partValues.contains(rel.takeWhile(_ != '/')))
    if (replaced.isEmpty)
      return currentVersion(spark, root).getOrElse(0L)
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val runId = java.util.UUID.randomUUID().toString
    // Dot-prefixed tmp INSIDE the root: invisible to listDataFiles and
    // to plain directory readers, same filesystem for cheap renames.
    val tmp = new Path(rootPath, s".compact-snap-$runId")
    // Default layout: one output partition per compacted partition
    // value (the pure small-files fold). A caller-supplied `layout`
    // re-CLUSTERS the rows instead (e.g. z-order within each source —
    // AtRestStores.compactDocumentsSourcesClustered): it receives the
    // replaced rows WITH the partition column and must return a frame
    // still carrying it; everything else (fresh names, pointer flip,
    // expiry) is identical.
    val replacedRows = spark.read.option("basePath", root)
      .parquet(replaced.map(r => s"$root/$r"): _*)
    layout.getOrElse((df: DataFrame) => df.repartition(partValues.size,
        org.apache.spark.sql.functions.col(partCols.head)))
      .apply(replacedRows)
      .write.partitionBy(partCols.head).parquet(tmp.toString)
    val freshRel = Seq.newBuilder[String]
    fs.listStatus(tmp).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partCols.head + "="))
      .foreach { d =>
        val part = d.getPath.getName
        fs.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .foreach { f =>
            val destName = s"compact-$runId-${f.getPath.getName}"
            val dest = new Path(new Path(rootPath, part), destName)
            fs.mkdirs(dest.getParent)
            require(fs.rename(f.getPath, dest),
              s"rename failed: ${f.getPath} -> $dest")
            freshRel += s"$part/$destName"
          }
      }
    val v = publishCompact(spark, root, kept ++ freshRel.result(),
      expired = replaced)
    fs.delete(tmp, true): Unit
    v
  }

  /** Snapshot compaction of a FLAT manifested directory (no partition
    * dirs): the caller's `fold` collapses the current snapshot's rows
    * (e.g. summing log-structured partials), the result lands under
    * fresh `compact-*` names, and one pointer flip replaces the whole
    * file set. Same contracts as [[compactPartitionsSnapshot]]:
    * nothing moved or deleted, replaced files expire until
    * [[gcExpired]], readers see pre- or post-state only.
    */
  def compactAllSnapshot(spark: SparkSession, root: String,
      fold: DataFrame => DataFrame): Long = {
    val cur = files(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$root is not manifested — publish a manifest first"))
    if (cur.isEmpty) return currentVersion(spark, root).getOrElse(0L)
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val runId = java.util.UUID.randomUUID().toString
    val tmp = new Path(rootPath, s".compact-snap-$runId")
    fold(spark.read.option("basePath", root)
      .parquet(cur.map(r => s"$root/$r"): _*))
      .write.parquet(tmp.toString)
    val freshRel = Seq.newBuilder[String]
    fs.listStatus(tmp).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .foreach { f =>
        val destName = s"compact-$runId-${f.getPath.getName}"
        require(fs.rename(f.getPath, new Path(rootPath, destName)),
          s"rename failed: ${f.getPath}")
        freshRel += destName
      }
    val v = publishCompact(spark, root, freshRel.result(),
      expired = cur)
    fs.delete(tmp, true): Unit
    v
  }

  /** Delete data files that NO manifest version references — the
    * orphans a crash between a compaction's staged renames and its
    * manifest flip leaves behind (invisible to snapshots, but they
    * accumulate and double-count in listing-based reads forever).
    * Safety rails:
    *
    *  - `protect`: root-relative paths that must survive even though
    *    unreferenced — pass the intake ledger's marker-held files, so
    *    an applied-but-not-yet-published epoch (the heal window) is
    *    never swept out from under its replay.
    *  - `olderThanMs`: only files whose modification time is at least
    *    this old are eligible, so a sweep racing an in-flight writer's
    *    just-renamed files skips them (belt and braces on top of the
    *    single-maintenance-writer contract).
    *
    * Expired-pending-GC files are listed by their old versions and
    * therefore never candidates; [[gcExpired]] remains their path out.
    * Returns the deleted root-relative paths.
    */
  def sweepUntracked(spark: SparkSession, root: String,
      protect: Seq[String] = Seq.empty,
      olderThanMs: Long = 0L): Seq[String] = {
    val dir = mdir(root)
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, root).getOrElse(return Seq.empty)
    val referenced = (1L to cur)
      .flatMap(v => readList(fs, new Path(dir, s"v$v.list"))).toSet ++
      protect
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deleted = Seq.newBuilder[String]
    listDataFiles(spark, root).filterNot(referenced).foreach { rel =>
      val p = new Path(root, rel)
      if (fs.getFileStatus(p).getModificationTime <= cutoff &&
        fs.delete(p, false)) deleted += rel
    }
    deleted.result()
  }

  /** Delete files expired by versions ≤ the current one minus
    * `keepVersions` — the operator-driven snapshot expiry. Returns the
    * deleted paths. Never touches files referenced by any retained
    * version's list.
    */
  def gcExpired(spark: SparkSession, root: String,
      keepVersions: Int = 1): Seq[String] = {
    val dir = mdir(root)
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, root).getOrElse(return Seq.empty)
    val retainFrom = cur - keepVersions
    // Union of every retained version's live list — a file listed by
    // ANY retained snapshot must survive.
    val live = (math.max(1, retainFrom) to cur)
      .flatMap(v => readList(fs, new Path(dir, s"v$v.list"))).toSet
    val deleted = Seq.newBuilder[String]
    (1L to retainFrom).foreach { v =>
      val exp = new Path(dir, s"v$v.expired")
      readList(fs, exp).filterNot(live).foreach { rel =>
        if (fs.delete(new Path(root, rel), false)) deleted += rel
      }
      fs.delete(exp, false)
    }
    deleted.result()
  }
}
