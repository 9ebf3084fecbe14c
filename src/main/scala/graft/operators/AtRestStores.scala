package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The documents half of the at-rest layout story (VERDICT r8
  * directive 2; siblings: Dedup.writeSignatureStore — the (band, sig)-
  * bucketed signature table — and Similarity.writeIvfStore — the
  * cell-partitioned vector table).
  *
  * A 100 TB document corpus lives PARTITIONED BY source: governance
  * queries (domain stats/filters, per-source dup shares, term lift,
  * mixture sampling) are all source-scoped or source-grouped, so the
  * layout turns their scans into directory-pruned reads — a
  * source-filtered pass reads that source's files and nothing else,
  * and source-grouped aggregation starts from source-clustered input.
  * Intake appends land as new files under their source directory
  * (dynamic partition append), never rewriting resident data — the
  * documents counterpart of the signature store's "the corpus never
  * reshuffles on intake" contract, pinned by AtRestLayoutSpec.
  */
object AtRestStores {

  /** Write the documents table partitioned by source. Source
    * cardinality is governance-sized (tens to thousands), so the
    * directory fan-out stays far below filesystem limits; a source
    * whose files are tiny is folded by [[compactDocumentsSources]],
    * not a layout change. Nothing bounds file SIZE: maxRecordsPerFile
    * is not set, so a hot source is one write task and one file —
    * repartitioning on (source, hash slice) is the lever that splits
    * it.
    */
  def writeDocumentsStore(docs: DataFrame, path: String): Unit =
    docs.write.partitionBy("source").mode("overwrite").parquet(path)

  /** Intake append: new files under their source directories, resident
    * data untouched. Additive schema evolution only (VERDICT r10 #5):
    * a new epoch may carry extra columns — resident epochs read them
    * as null through [[documentsStoreEvolved]] — but changing an
    * existing column's type rejects loudly at append time
    * (Similarity.assertEvolvableSchema, the shared gate).
    */
  def appendToDocumentsStore(docs: DataFrame, path: String): Unit = {
    // Merged resident schema: a plain read samples one footer and a
    // pre-evolution file would hide already-evolved columns from the
    // gate.
    Similarity.assertEvolvableSchema(
      documentsStoreEvolved(docs.sparkSession, path).schema, docs.schema)
    docs.write.partitionBy("source").mode("append").parquet(path)
  }

  /** Read the store back; filters on `source` prune at the directory
    * level (assert PartitionFilters in the scan, not Filter above it).
    */
  def documentsStore(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Evolution-aware read: mergeSchema unions every epoch's columns,
    * so pre-evolution rows surface added columns as null. Costs a
    * footer read per file at planning — use for consumers that SELECT
    * evolved columns; [[documentsStore]] stays the cheap default.
    */
  def documentsStoreEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Adopt snapshot manifests for a documents store: pin the current
    * data files as version 1 (the IVF store publishes its v1 at build,
    * inside Similarity.writeIvfStore). From then on read through
    * [[documentsSnapshot]] and compact with [[compactDocumentsSources]]
    * — same contracts, same GC (`StoreManifest.gcExpired`), same
    * orphan sweep.
    */
  def publishDocumentsManifest(spark: SparkSession, path: String): Long =
    StoreManifest.publish(spark, path,
      StoreManifest.listDataFiles(spark, path))

  /** The manifested read: exactly the current snapshot's files, with
    * `source=` directory pruning intact (basePath). Results are always
    * a full pre- or post-maintenance state, never a mix.
    */
  def documentsSnapshot(spark: SparkSession, path: String): DataFrame =
    StoreManifest.snapshotRead(spark, path)

  /** Snapshot-compact the named sources' files (each intake epoch adds
    * files per source FOREVER — the small-files problem a year of
    * micro-batches creates): fresh files land under new names, one
    * manifest pointer flip swaps the source's file set, replaced files
    * expire until GC. Readers racing the compaction see pre- or
    * post-state, never a half-swapped source directory.
    */
  def compactDocumentsSources(spark: SparkSession, path: String,
      sources: Seq[String]): Long =
    StoreManifest.compactPartitionsSnapshot(spark, path,
      sources.map(s => s"source=$s").toSet)

  /** Compaction-time RE-CLUSTERING (VERDICT r12 #5): intake appends
    * land arrival-ordered, so every epoch's files carry near-full-range
    * (n_chars, doc_id) envelopes and a range probe opens all of them —
    * the skipping layout `zorder_scan` proves on a write-once store
    * decays under streaming intake. This maintenance pass rewrites the
    * named sources' rows Morton-clustered on `zCols` (one range
    * exchange over (source, z), in-partition sort — fresh files get
    * disjoint z-ranges and tight envelopes in BOTH dimensions) under
    * the same snapshot contract as [[compactDocumentsSources]]: fresh
    * names, one pointer flip, replaced files expire until GC, racing
    * readers see pre- or post-state only.
    *
    * The min/max normalization is computed over the rows being
    * compacted (one stats job — maintenance-path cost, like
    * StorageLayout.writeZOrdered's). `filesPerSource` sizes the
    * output — production sets it to compacted-bytes / target-file-size.
    *
    * Returns the published version. Refresh the skipping sidecars
    * AFTER the flip with [[refreshDocumentsSidecars]] — stats computed
    * over the new snapshot, not the directory listing (expired files
    * must not re-enter the index).
    */
  def compactDocumentsSourcesClustered(spark: SparkSession, path: String,
      sources: Seq[String], zCols: Seq[String],
      filesPerSource: Int = 4, bits: Int = 16): Long = {
    import org.apache.spark.sql.functions._
    require(sources.nonEmpty && zCols.nonEmpty,
      "clustered compaction needs sources and z-order columns")
    StoreManifest.compactPartitionsSnapshot(spark, path,
      sources.map(s => s"source=$s").toSet,
      layout = Some { df =>
        val aggs = zCols.flatMap(c => Seq(min(col(c)).cast("double"),
          max(col(c)).cast("double")))
        val stats = df.agg(aggs.head, aggs.tail: _*).head()
        val z = StorageLayout.mortonCode(
          zCols.zipWithIndex.map { case (c, i) =>
            // An entirely-null z column has null min/max — getDouble
            // would NPE mid-compaction (ADVICE r13). Fall back to a
            // constant bucket: the dimension carries no range signal,
            // normBucket sends every (null) value to bucket 0, and the
            // other dimensions still cluster.
            if (stats.isNullAt(2 * i))
              StorageLayout.normBucket(col(c), 0d, 0d, bits)
            else StorageLayout.normBucket(col(c),
              stats.getDouble(2 * i), stats.getDouble(2 * i + 1), bits)
          }, bits)
        df.withColumn("__z", z)
          .repartitionByRange(sources.size * filesPerSource,
            col("source"), col("__z"))
          .sortWithinPartitions("source", "__z")
          .drop("__z")
      })
  }

  /** Rebuild the documents store's skipping sidecars — the per-file
    * (min, max) envelope manifest (`&lt;path&gt;.manifest`) and the
    * term-membership index (`&lt;path&gt;.terms`) — over the CURRENT
    * snapshot's files. Run after intake epochs and after compactions;
    * both probe paths (StorageLayout.skippingRead / termSkippingRead)
    * read these locations.
    */
  def refreshDocumentsSidecars(spark: SparkSession, path: String,
      zCols: Seq[String], tokensExpr: String, termBuckets: Int): Unit = {
    val snap = documentsSnapshot(spark, path)
    StorageLayout.statsManifestOf(snap, zCols)
      .coalesce(1).write.mode("overwrite").parquet(path + ".manifest")
    StorageLayout.termManifestOf(snap, tokensExpr, termBuckets)
      .coalesce(1).write.mode("overwrite").parquet(path + ".terms")
  }
}
