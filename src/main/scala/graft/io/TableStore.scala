package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{DataType, StructType}

/** The curated-table catalog (S3-S6): named parquet tables under one root,
  * with idempotent overwrite, append, and existence probes.
  *
  * Capability source /root/reference/etl/gsheets.py:35-164 (ensure/clear/
  * overwrite/append on worksheet tabs). Parquet + overwrite mode gives the
  * same repeat-safe contract; existence goes through the Hadoop FileSystem
  * API so the store works identically on local disk, HDFS, or an object
  * store at cluster scale.
  */
object TableStore {
  // Generation stamps are wall-clock-anchored: numeric order stays meaningful
  // ACROSS JVM restarts (System.nanoTime's origin is arbitrary per JVM, so a
  // retired dir surviving a reboot — possible via the recovery-failure throw
  // path — could numerically out-order a strictly newer generation). millis
  // × 10^6 + counter keeps same-millisecond stamps distinct and monotone
  // within a JVM; 20-digit zero-padding makes string order match numeric
  // order for every stamp this code ever writes.
  private val genCounter = new java.util.concurrent.atomic.AtomicLong()
  private[io] def genStamp(): String =
    f"${System.currentTimeMillis() * 1000000L + genCounter.getAndIncrement() % 1000000L}%020d"

  /** Store-internal key-bucket partition column (the keyed layout of
    * [[TableStore.overwriteKeyed]]): `pmod(xxhash64(keyCols…), numBuckets)`.
    * Lives only in directory names and upsert plans — [[TableStore.read]]
    * drops it. */
  private[io] val KB = "__kb"

  /** Name of the layout-metadata file inside a keyed table directory
    * (underscore prefix → invisible to Spark's file listing). Records the
    * bucket count so an upsert with a MISMATCHED `numBuckets` fails loudly
    * instead of silently routing keys to the wrong bucket (which would
    * duplicate them). */
  private[io] val KbMeta = "_graft_kb_buckets"

  /** Footer key under which Spark's parquet writer stores the row schema
    * as JSON (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
}

final class TableStore(private[graft] val spark: SparkSession, root: String) {

  def path(name: String): String = s"$root/$name"

  /** S6: does the table exist (any prior successful write)? */
  def exists(name: String): Boolean = {
    val p = new Path(path(name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read a table. The store-internal key-bucket layout column
    * ([[TableStore.KB]], written by [[overwriteKeyed]]/[[upsertKeyed]]) is
    * dropped — consumers see the logical schema regardless of which
    * physical layout the table carries. The data schema comes from
    * [[footerSchema]], so creating the reader launches no job; partition
    * columns are still discovered from directory names. */
  def read(name: String): DataFrame = {
    val df = footerSchema(path(name))
      .fold(spark.read)(spark.read.schema).parquet(path(name))
    if (df.columns.contains(TableStore.KB)) df.drop(TableStore.KB) else df
  }

  /** The Spark schema stored in the footer of the table's first data file
    * in path order: the same single footer Spark's non-merging schema
    * inference reads, but read here on the driver instead of in a job.
    * None (plain inference) when the table has no data file or its footer
    * carries no Spark schema. */
  private def footerSchema(dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // Spark's listing filter: `__kb=0` is a partition dir, `_SUCCESS` is not
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def firstDataFile(d: Path): Option[Path] =
      fs.listStatus(d).filterNot(s => hidden(s.getPath.getName)).sortBy(_.getPath.getName)
        .iterator.flatMap(s => if (s.isDirectory) firstDataFile(s.getPath) else Some(s.getPath))
        .nextOption()
    if (!fs.exists(root)) None
    else firstDataFile(root).flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(TableStore.SparkSchemaKey) finally reader.close()
      Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
    }
  }

  /** S3/S4: idempotent full overwrite (clear + write in one atomic-per-dir
    * commit). Returns the number of rows written, observed on the write
    * itself, so no read-back count job is needed. */
  def overwrite(name: String, df: DataFrame): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(path(name))
    written.get("rows").asInstanceOf[Long]
  }

  /** Failure-ATOMIC overwrite through the staged swap: the new generation
    * lands in a side directory and replaces the live one only after a
    * complete write, so a crash mid-write leaves the previous generation
    * readable (and recovery restores an interrupted swap). Use for tables
    * that act as ROOT POINTERS for other state (e.g. an index's clock) —
    * [[overwrite]]'s delete-then-write window is unacceptable there. */
  def overwriteStaged(name: String, df: DataFrame): Unit =
    stagedSwap(name)(staging =>
      df.write.mode("overwrite").parquet(staging.toString))

  /** S5: append-only (etl_log); first run creates the table, header is
    * carried by the parquet schema. */
  def append(name: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(path(name))

  /** Z-order-on-write layout ([[graft.functions.ZOrder]]): range-partition +
    * sort on the bit-interleaved key of `zCols`, giving EVERY z-column
    * locality in the file layout — a selective predicate on any one of them
    * skips most files via parquet min/max, where a linear sort serves only
    * its leading column. Scaling is observed-min/max equal-width
    * ([[graft.functions.ZOrder.scaledZkey]]); the key is dropped after the
    * sort, so readers see the logical schema. */
  def overwriteZOrdered(
      name: String, df: DataFrame, zCols: Seq[String],
      files: Int, bits: Int = 12): Unit = {
    require(zCols.size >= 2 && files >= 1)
    val keyed = df.withColumn("__zkey",
      graft.functions.ZOrder.scaledZkey(df, bits, zCols))
    // staged (failure-atomic): a layout rewrite typically REPLACES a live
    // table — the delete-then-write window would destroy the previous
    // generation on a crash mid-write
    overwriteStaged(name,
      keyed.repartitionByRange(files, col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey"))
  }

  /** SMALL-FILES COMPACTION — the lake-maintenance rewrite every
    * append-accumulating table eventually needs: at 100 TB the failure mode
    * is not data size but FILE COUNT (a million 1 MB files = a million
    * scheduler tasks and a listing storm; parquet wants ~128 MB objects).
    * Rewrites the table's part files into ⌈total/targetBytes⌉ outputs via
    * `coalesce` (a NARROW rewrite — no shuffle; compaction moves bytes, it
    * must not re-hash them) through the same failure-atomic staged swap as
    * every overwrite, reading the live generation while writing the next.
    * No-op (returns the current count) when the table is already at or
    * under the target count. FLAT tables only: partitioned layouts compact
    * per partition directory (their small-files problem is per-directory),
    * and keyed-bucketed tables must keep their bucket count — both rejected
    * loudly. Returns the post-compaction file count. */
  def compactFiles(name: String, targetBytes: Long = 128L << 20): Int = {
    require(targetBytes >= (1L << 20),
      s"targetBytes must be >= 1 MiB (got $targetBytes)")
    require(kbMetaOf(name).isEmpty,
      s"'$name' is keyed-bucketed — its file layout IS the index; " +
        "rewrite through overwriteKeyed instead")
    val dir = new Path(path(name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(dir)
    val dataFiles = entries.filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    require(dataFiles.nonEmpty,
      s"'$name' has no part files at the table root — compactFiles handles " +
        "FLAT tables; partitioned layouts compact per partition directory")
    val totalBytes = dataFiles.map(_.getLen).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (target >= dataFiles.length) dataFiles.length
    else {
      val compacted = read(name).coalesce(target)
      stagedSwap(name)(staging =>
        compacted.write.mode("overwrite").parquet(staging.toString))
      // report the ACTUAL post-swap count, not `target`: coalesce cannot
      // raise the partition count above the scan's bin-packed partitions,
      // so very small inputs can land in fewer files than asked for
      fs.listStatus(dir)
        .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    }
  }

  /** Catalog identifier for a bucketed table: scoped by a hash of this
    * store's root so two stores with the same logical table name cannot
    * clobber or serve each other's catalog entries. */
  private def bucketedIdent(name: String): String = {
    require(!name.contains(".") && !name.contains("`"),
      s"bucketed table names must be simple identifiers (got '$name')")
    f"graft_${(root.hashCode & 0x7fffffff)}%08x_$name"
  }

  /** Bucketed overwrite: registers `name` (scoped to this store's root) in
    * the session catalog with its data hash-bucketed (and optionally sorted)
    * on `bucketCols`. Two tables bucketed the same way join WITHOUT a
    * shuffle exchange on either side — at 100 TB this converts the dominant
    * repeated cost (fact-fact shuffles) into a write-time layout decision,
    * amortized over every join in the session (with a persistent metastore
    * in a real deployment, over all sessions; the harness's in-memory
    * catalog is session-scoped, so re-register after a restart). Read back
    * with [[readBucketed]] — a plain parquet read loses the bucket spec.
    */
  def overwriteBucketed(
      name: String,
      df: DataFrame,
      buckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1 && bucketCols.nonEmpty, "need >= 1 bucket and a bucket column")
    val ident = bucketedIdent(name)
    // Failure-atomic overwrite: write the new generation to a STAGING
    // location + staging catalog name first; only after that write fully
    // commits is the live catalog entry swapped and the previous generation's
    // files deleted. A failure mid-write leaves the old table (entry + data)
    // untouched and readable — the same idempotent-overwrite contract as the
    // plain parquet path. This also makes overwriting from a plan that READS
    // the table safe: the read finishes during the staging write, before the
    // old entry is dropped.
    val stagingIdent = ident + "__staging"
    val retiredIdent = ident + "__retired"
    val stagingPath = s"${path(name)}__gen_${TableStore.genStamp()}"
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def deleteDir(loc: java.net.URI): Unit = {
      val p = new Path(loc)
      p.getFileSystem(hadoopConf).delete(p, true)
    }
    import org.apache.spark.sql.catalyst.TableIdentifier
    val catalog = spark.sessionState.catalog
    // Recover any INTERRUPTED previous swap before touching anything: a
    // leftover retired entry either IS the live data (crash between the two
    // renames — restore it) or is a fully replaced generation whose cleanup
    // never ran (crash after promote — complete it). Never blind-drop it: an
    // external-table DROP removes only the entry, stranding the files.
    if (catalog.tableExists(TableIdentifier(retiredIdent))) {
      if (!catalog.tableExists(TableIdentifier(ident)))
        spark.sql(s"ALTER TABLE `$retiredIdent` RENAME TO `$ident`")
      else {
        val loc = catalog.getTableMetadata(TableIdentifier(retiredIdent)).location
        spark.sql(s"DROP TABLE IF EXISTS `$retiredIdent`")
        deleteDir(loc)
      }
    }
    // Leftover staging entry from a crashed run: its files are a dead
    // generation — fetch the location BEFORE dropping the entry so the files
    // go too (a bare DROP on an external table deletes only metadata).
    if (catalog.tableExists(TableIdentifier(stagingIdent))) {
      val loc = catalog.getTableMetadata(TableIdentifier(stagingIdent)).location
      spark.sql(s"DROP TABLE `$stagingIdent`")
      deleteDir(loc)
    }
    // Sweep orphaned generations. The catalog is session-scoped, so after a
    // JVM restart the previous generation's `__gen_*` directory has no entry
    // pointing at it and nothing else will ever delete it — every
    // restart+overwrite cycle would leak a full table copy. Recovery above
    // has settled which entry is live, so any glob match that is not the
    // live entry's location is garbage.
    {
      val fs = new Path(root).getFileSystem(hadoopConf)
      val liveLoc: Option[Path] =
        if (catalog.tableExists(TableIdentifier(ident)))
          Some(fs.makeQualified(new Path(catalog.getTableMetadata(TableIdentifier(ident)).location)))
        else None
      val gens = fs.globStatus(new Path(s"${path(name)}__gen_*"))
      if (gens != null) gens.foreach { st =>
        val q = fs.makeQualified(st.getPath)
        if (!liveLoc.contains(q)) fs.delete(st.getPath, true)
      }
    }
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", stagingPath)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    try (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(stagingIdent)
    catch {
      case e: Throwable =>
        // a failed generation must not leak: drop its entry AND its files
        try {
          spark.sql(s"DROP TABLE IF EXISTS `$stagingIdent`")
          deleteDir(java.net.URI.create(stagingPath))
        } catch { case _: Throwable => () } // best effort; the write error wins
        throw e
    }
    // Swap via rename-first (never a drop-then-recreate window): retire the
    // live entry under a temporary name, promote staging, then clean up. If
    // the promote fails, the retired entry is renamed back — the table stays
    // readable through every failure mode except a crash BETWEEN the two
    // renames (recovered on the next overwrite by the retired-entry logic
    // above).
    val hadOld = catalog.tableExists(TableIdentifier(ident))
    val oldLocation =
      if (hadOld) Some(catalog.getTableMetadata(TableIdentifier(ident)).location)
      else None
    if (hadOld) spark.sql(s"ALTER TABLE `$ident` RENAME TO `$retiredIdent`")
    try spark.sql(s"ALTER TABLE `$stagingIdent` RENAME TO `$ident`")
    catch {
      case e: Throwable =>
        // best-effort restore; if even that fails, keep the ROOT cause and
        // attach the secondary failure (the data still lives under retired)
        if (hadOld) {
          try spark.sql(s"ALTER TABLE `$retiredIdent` RENAME TO `$ident`")
          catch { case e2: Throwable => e.addSuppressed(e2) }
        }
        throw e
    }
    spark.sql(s"DROP TABLE IF EXISTS `$retiredIdent`")
    oldLocation.foreach(deleteDir)
  }

  /** Catalog read that preserves the bucket spec (enables shuffle-free
    * joins/aggregations on the bucket columns). */
  def readBucketed(name: String): DataFrame = spark.table(bucketedIdent(name))

  /** Drop a bucketed table COMPLETELY: the live catalog entry, any
    * `__staging`/`__retired` entry a crashed overwrite left behind, and
    * EVERY `__gen_*` directory (an external-table DROP removes only
    * metadata, stranding files; and because this is the TERMINAL operation
    * for the name, no future overwrite's recovery sweep will ever settle a
    * leftover — the drop must sweep everything itself). No-op when nothing
    * exists. Callers that materialize a result off the table (e.g. a
    * registered query with a store-lifetime scoped to one invocation) use
    * this to release the session catalog — the q142 resource-hygiene
    * contract applied to the bucketed path. */
  def dropBucketed(name: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val base = bucketedIdent(name)
    val catalog = spark.sessionState.catalog
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    for (ident <- Seq(base, base + "__staging", base + "__retired")) {
      if (catalog.tableExists(TableIdentifier(ident))) {
        val loc = catalog.getTableMetadata(TableIdentifier(ident)).location
        spark.sql(s"DROP TABLE IF EXISTS `$ident`")
        val p = new Path(loc)
        p.getFileSystem(hadoopConf).delete(p, true)
      }
    }
    // orphaned generations (catalog entry lost to a JVM restart): the name
    // is being retired, so every remaining generation dir is garbage
    val fs = new Path(root).getFileSystem(hadoopConf)
    val gens = fs.globStatus(new Path(s"${path(name)}__gen_*"))
    if (gens != null) gens.foreach(st => fs.delete(st.getPath, true))
    ()
  }

  /** Hive-style partitioned overwrite: one directory per distinct value
    * combination of `partitionCols`. At 100 TB this is the OTHER write-time
    * layout lever next to bucketing: a query filtering on a partition
    * column reads only the matching directories — the scan's
    * PartitionFilters prune before any I/O happens, turning a full-table
    * scan into a per-day (or per-tenant, per-source) scan. Partition by
    * LOW-cardinality columns only (dates, regions, sources); high-cardinality
    * partitioning produces millions of small files and kills the listing.
    * Read back with [[read]] — partition discovery is directory-driven, no
    * catalog entry needed. */
  def overwritePartitioned(
      name: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    stagedSwap(name)(staging =>
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging.toString))
  }

  /** Partition-aware append: new files land ONLY under the partition
    * directories the batch touches — the O(batch) ingest contract on a
    * partitioned layout (the directory-level sibling of [[upsertKeyed]]'s
    * bucket-scoped rewrite; append-only, so re-ingesting a key duplicates
    * it — idempotence is the caller's contract, as with [[append]]). */
  def appendPartitioned(
      name: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    df.write.mode("append").partitionBy(partitionCols: _*).parquet(path(name))
  }

  /** Keyed upsert — the incremental-maintenance sink ("merge tonight's batch
    * into the corpus"): rows of `batch` REPLACE all current rows sharing
    * their `keyCols` values (every batch row for a key lands, so a multi-row
    * batch group replaces wholesale), all other current rows are retained.
    * Key matching is NULL-SAFE: a NULL key in the batch replaces the NULL-key
    * group, never silently duplicates it (the q63 stratum-join lesson).
    * First write degrades to a plain overwrite.
    *
    * Parquet is immutable, so the merge is a REWRITE: the anti-join of the
    * current table against the batch's distinct keys, unioned with the
    * batch, written through the same staged-swap as [[overwritePartitioned]]
    * — which is also what makes reading and replacing the SAME path safe
    * (the merged plan scans the live generation while the new one builds in
    * staging; a plain mode("overwrite") would delete its own input).
    * Idempotent: re-upserting the same batch reproduces the identical
    * table. This flat form rewrites the WHOLE table per batch — fine for
    * small/medium tables; for incremental maintenance at scale use
    * [[upsertKeyed]], which scopes the rewrite to the hash buckets the
    * batch's keys touch. */
  def upsert(name: String, batch: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    if (!exists(name)) { overwrite(name, batch); return }
    val current = read(name)
    val keys = batch.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    val cond = keyCols.map(k => current(k) <=> keys(k)).reduce(_ && _)
    val merged = current.join(keys, cond, "left_anti").unionByName(batch)
    stagedSwap(name)(staging => merged.write.parquet(staging.toString))
  }

  // ---- Keyed (bucket-partitioned) layout: O(batch) incremental upsert -----

  import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

  /** `pmod(xxhash64(keyCols…), numBuckets)` as an int column — the physical
    * routing function of the keyed layout. xxhash64 maps a NULL key to a
    * deterministic value, so null-keyed rows land in a stable bucket. */
  private def kbOf(keyCols: Seq[String], numBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int")

  private def writeKbMeta(dir: Path, numBuckets: Int): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, TableStore.KbMeta), true)
    try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Bucket count recorded in a keyed table dir; None for a legacy
    * (non-keyed) layout. Callers doing incremental maintenance should use
    * this to inherit the standing layout instead of passing a count that
    * can drift from it. */
  def keyedBuckets(name: String): Option[Int] = kbMetaOf(name)

  private[io] def kbMetaOf(name: String): Option[Int] = {
    val p = new Path(path(name), TableStore.KbMeta)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](32)
        val n = in.read(buf)
        Some(new String(buf, 0, n, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Full overwrite in the KEYED layout: rows are routed to
    * `numBuckets` hash buckets of `keyCols` (Hive-style `__kb=i` dirs, with
    * any `partitionCols` nested BELOW, so partition pruning on them still
    * works), enabling [[upsertKeyed]] to later rewrite ONLY the buckets a
    * batch touches. The pre-write repartition by (bucket, partitions) makes
    * each leaf directory the output of exactly one task — one file per leaf,
    * no small-file explosion at any bucket count. Failure-atomic via the
    * same staged swap as [[overwritePartitioned]].
    *
    * Sizing at scale: pick `numBuckets` ≈ table_bytes / ~1 GB so a bucket is
    * one healthy parquet rewrite unit; an incremental batch of B keys then
    * rewrites at most B buckets ≈ B GB regardless of corpus size. */
  def overwriteKeyed(
      name: String, df: DataFrame, keyCols: Seq[String], numBuckets: Int,
      partitionCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(numBuckets >= 1, s"need >= 1 bucket (got $numBuckets)")
    val kbd = df.withColumn(TableStore.KB, kbOf(keyCols, numBuckets))
    val parts = TableStore.KB +: partitionCols
    stagedSwap(name) { staging =>
      kbd.repartition(parts.map(col): _*)
        .write.partitionBy(parts: _*).parquet(staging.toString)
      writeKbMeta(staging, numBuckets)
    }
  }

  /** Keyed upsert — the INCREMENTAL form of [[upsert]]: same merge contract
    * (batch rows replace all current rows sharing their key, null-safe,
    * idempotent, multi-row batch groups land wholesale), but the rewrite is
    * scoped to the buckets the batch's keys hash into. Untouched bucket
    * directories are never read, written, or moved — per-batch cost is
    * O(touched_buckets · bucket_size) ≈ O(batch), independent of corpus
    * size. This is what converts the streaming-ingest sink from O(corpus)
    * per micro-batch to O(batch).
    *
    * Layout contract: the table must carry the keyed layout of
    * [[overwriteKeyed]] with the SAME `numBuckets` (enforced via the
    * recorded bucket count — a mismatch would route keys to wrong buckets
    * and silently duplicate them). A legacy non-keyed table is migrated by
    * one full merge-rewrite into the keyed layout. First write degrades to
    * [[overwriteKeyed]].
    *
    * Atomicity: each touched bucket swaps by rename (retire → promote), so
    * a crash leaves every bucket either fully old or fully new — never
    * half-written (the staging write happened elsewhere). A crash mid-loop
    * can leave a MIX of old and new buckets; that is recovered lazily (the
    * next keyed operation restores any bucket whose swap was interrupted)
    * and is convergent: re-running the same upsert is idempotent per
    * bucket, and upserted rows carry the corpus's standing generation
    * stamp, so no reader-visible generation skew arises. */
  def upsertKeyed(
      name: String, batch: DataFrame, keyCols: Seq[String], numBuckets: Int,
      partitionCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(numBuckets >= 1, s"need >= 1 bucket (got $numBuckets)")
    if (!exists(name)) {
      overwriteKeyed(name, batch, keyCols, numBuckets, partitionCols); return
    }
    recoverKeyed(name)
    val keys = batch.select(keyCols.map(col): _*).distinct()
    kbMetaOf(name) match {
      case None =>
        // legacy flat/partitioned layout: one full merge-rewrite migrates it
        val current = read(name)
        val cond = keyCols.map(k => current(k) <=> keys(k)).reduce(_ && _)
        val merged = current.join(keys, cond, "left_anti").unionByName(batch)
        overwriteKeyed(name, merged, keyCols, numBuckets, partitionCols)
      case Some(stored) =>
        require(stored == numBuckets,
          s"keyed table '$name' was laid out with $stored buckets; upserting " +
            s"with numBuckets=$numBuckets would route keys to wrong buckets")
        val hadoopConf = spark.sparkContext.hadoopConfiguration
        val live = new Path(path(name))
        val fs = live.getFileSystem(hadoopConf)
        val kbd = batch.withColumn(TableStore.KB, kbOf(keyCols, numBuckets))
        val touched = kbd.select(TableStore.KB).distinct()
          .collect().map(_.getInt(0)).sorted
        if (touched.isEmpty) return // empty batch: nothing to merge
        // Merge plan over the TOUCHED buckets only: the __kb isin filter is
        // a partition filter, so untouched bucket dirs are pruned before any
        // I/O. The anti-join inside a bucket is the same null-safe key
        // semantics as the flat upsert.
        val current = spark.read.parquet(path(name))
          .filter(col(TableStore.KB).isin(touched.map(Integer.valueOf): _*))
        val cond = keyCols.map(k => current(k) <=> keys(k)).reduce(_ && _)
        val merged = current.join(keys, cond, "left_anti").unionByName(kbd)
        val parts = TableStore.KB +: partitionCols
        val staging = new Path(s"${path(name)}__kb_staging_${TableStore.genStamp()}")
        try merged.repartition(parts.map(col): _*)
          .write.partitionBy(parts: _*).parquet(staging.toString)
        catch {
          case e: Throwable =>
            try fs.delete(staging, true)
            catch { case _: Throwable => () } // best effort; the write error wins
            throw e
        }
        // Per-bucket swap: retire the live bucket dir OUTSIDE the table dir
        // (an in-table sibling would be partition-discovered), promote the
        // staging bucket dir. Every touched bucket has staging data (its
        // batch rows are in the merge by construction).
        val retired = new Path(s"${path(name)}__kb_retired_${TableStore.genStamp()}")
        if (!fs.mkdirs(retired))
          throw new java.io.IOException(s"could not create $retired")
        touched.foreach { b =>
          val dirName = s"${TableStore.KB}=$b"
          val liveB = new Path(live, dirName)
          val stagB = new Path(staging, dirName)
          if (fs.exists(liveB) && !fs.rename(liveB, new Path(retired, dirName)))
            throw new java.io.IOException(s"could not retire bucket $liveB")
          if (!fs.rename(stagB, new Path(live, dirName))) {
            // restore the just-retired bucket so the table stays readable;
            // earlier buckets keep their new generation (convergent — see
            // the scaladoc), later buckets were not yet touched
            fs.rename(new Path(retired, dirName), liveB)
            throw new java.io.IOException(s"could not promote bucket $stagB")
          }
        }
        fs.delete(staging, true)
        fs.delete(retired, true)
    }
  }

  /** Restore any bucket whose swap was interrupted: a bucket dir present
    * under a `__kb_retired_*` root but MISSING from the live table is the
    * only copy — rename it back. Anything still under retired/staging after
    * restoration is a fully-replaced old generation (or dead staging data)
    * and is swept. Mirrors [[stagedSwap]]'s restore-then-sweep discipline at
    * bucket granularity. */
  private def recoverKeyed(name: String): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val live = new Path(path(name))
    val fs = live.getFileSystem(hadoopConf)
    val retiredRoots = Option(fs.globStatus(new Path(s"${path(name)}__kb_retired_*")))
      .getOrElse(Array.empty)
    retiredRoots.foreach { root =>
      Option(fs.listStatus(root.getPath)).getOrElse(Array.empty).foreach { st =>
        val liveB = new Path(live, st.getPath.getName)
        if (!fs.exists(liveB) && !fs.rename(st.getPath, liveB))
          throw new java.io.IOException(
            s"crash recovery: could not restore bucket ${st.getPath} to $liveB — " +
              "leaving retired buckets untouched (they hold the only copy)")
      }
      fs.delete(root.getPath, true)
    }
    Option(fs.globStatus(new Path(s"${path(name)}__kb_staging_*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
  }

  /** Failure-atomic path-based generation swap, shared by the partitioned
    * overwrite and the upsert (the bucketed overwrite swaps catalog entries
    * instead): write the new generation to a staging directory via `write`,
    * then swap by rename — a crash mid-write leaves the old generation
    * untouched and readable, instead of the delete-then-write hole a plain
    * mode("overwrite") opens for the whole write duration. */
  private def stagedSwap(name: String)(write: Path => Unit): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val live = new Path(path(name))
    val fs = live.getFileSystem(hadoopConf)
    // Recover an interrupted previous swap: a retired dir with NO live dir
    // IS the live data (crash between the two renames) — restore the newest
    // generation. Generations are compared NUMERICALLY: the suffixes are
    // nanoTime stamps whose string order diverges from numeric order when
    // digit counts differ (new stamps are zero-padded, but pre-padding dirs
    // may survive a crash). The restore rename's result MUST be checked
    // before anything is swept — Hadoop FileSystems report rename failure by
    // returning false, not throwing, and sweeping after a silent failure
    // would delete the only surviving copy of the table.
    def generation(p: Path): Long =
      p.getName.substring(p.getName.lastIndexOf('_') + 1).toLong
    val retiredOld = Option(fs.globStatus(new Path(s"${path(name)}__part_retired_*")))
      .getOrElse(Array.empty)
    if (retiredOld.nonEmpty && !fs.exists(live)) {
      val newest = retiredOld.map(_.getPath).maxBy(generation)
      if (!fs.rename(newest, live))
        throw new java.io.IOException(
          s"crash recovery: could not restore $newest to $live — " +
            "leaving retired generations untouched (they hold the only copy)")
    }
    // Sweep dead generations only now that any recoverable data is confirmed
    // to be AT the live path: every retired dir remaining here is a strictly
    // older, fully replaced generation — never the only copy.
    if (retiredOld.isEmpty || fs.exists(live)) {
      Option(fs.globStatus(new Path(s"${path(name)}__part_retired_*")))
        .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
      Option(fs.globStatus(new Path(s"${path(name)}__part_staging_*")))
        .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
    }
    val staging = new Path(s"${path(name)}__part_staging_${TableStore.genStamp()}")
    try write(staging)
    catch {
      case e: Throwable =>
        try fs.delete(staging, true)
        catch { case _: Throwable => () } // best effort; the write error wins
        throw e
    }
    val retired = new Path(s"${path(name)}__part_retired_${TableStore.genStamp()}")
    val hadOld = fs.exists(live)
    if (hadOld && !fs.rename(live, retired))
      throw new java.io.IOException(s"could not retire $live")
    if (!fs.rename(staging, live)) {
      // best-effort restore; the data still lives under retired either way —
      // but say in the error whether the table is currently READABLE (restore
      // succeeded) or an operator must recover it from the retired dir
      val restored = hadOld && fs.rename(retired, live)
      throw new java.io.IOException(
        s"could not promote $staging to $live — " + (
          if (restored) "previous generation restored; the table is readable"
          else if (hadOld) s"restore also failed; the data sits under $retired " +
            "(next overwrite recovers it)"
          else "no previous generation existed; the table has no live data"))
    }
    if (hadOld) fs.delete(retired, true)
  }
}
