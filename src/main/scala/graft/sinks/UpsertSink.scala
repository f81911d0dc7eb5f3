package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructField
import org.apache.spark.storage.StorageLevel

/** Idempotent keyed sinks emulating the reference's two stores on plain
  * partitioned parquet (no external table format available in this
  * environment; the merge semantics are what Delta `MERGE INTO` would give):
  *
  *  - [[upsert]] — Doris UNIQUE-key table semantics
  *    (`databases/doris/__init__.py:164-239` + table keying): re-loading a
  *    key replaces the whole row, newest batch wins.
  *  - [[updateFields]] — MySQL `ON DUPLICATE KEY UPDATE` semantics
  *    (`databases/mysql/__init__.py:64-82`): only the listed columns update
  *    in place; unlisted columns keep their stored values; new keys insert.
  *  - [[append]] — plain Stream-Load append with the reference's
  *    empty-batch skip (K3, `doris/__init__.py:170-171`).
  *
  * Scale notes: a keyed upsert is four Spark jobs — one pass over the
  * update for emptiness and its touched partitions, the broadcast of its
  * keys, the shuffle that ranks the update's own rows, and the write. The
  * stored rows of the touched partitions are read with the update's schema
  * (no inference job; one footer is checked against it first), lose the
  * update's keys in a null-safe anti-join, and are written from the splits
  * they were read in: the only shuffle is the update's. With a
  * `partitionCol`, only partitions present in the update batch are read,
  * merged, written (to a temp dir) and swapped in dir-by-dir; untouched
  * partition directories are never read or rewritten, so a 100 TB table with
  * daily partitions pays for the touched days, not the table. Writes always
  * land in a temp dir first and move in by rename, so readers never see a
  * half-written partition.
  *
  * Crash safety: every rename-based swap first moves the displaced data
  * ASIDE (`<path>.old-<id>`), then renames the new data in, then drops the
  * aside copy. A crash anywhere in that window leaves either the aside copy
  * or the finished swap on disk; [[recoverCrash]] runs at the start of every
  * sink call and restores/cleans leftovers, so a crashed swap can never be
  * mistaken for an empty sink (which would silently rebuild the table from
  * one batch). True atomic swap needs a transactional table format /
  * metastore pointer — out of scope; this is the strongest guarantee plain
  * directories give.
  */
object UpsertSink {

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table root's entries; empty when there is no table. */
  private def rootListing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = fsFor(spark, path)
    if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
  }

  /** Detect and resolve leftovers of a crashed swap before any read of the
    * sink. Leftover kinds, by sibling-name suffix:
    *
    *  - `<path>.tmp-*` — an unfinished temp write: never swapped in, safe to
    *    discard (the producing upsert failed; re-running it re-creates it).
    *  - `<path>.old-*` — displaced pre-swap data. If the table (or the
    *    matching partition dir) is MISSING, the crash hit between the two
    *    renames: restore the aside copy — otherwise the next call would take
    *    the cold-start branch and rebuild the sink from a single batch,
    *    orphaning all prior data. If the destination exists, the swap
    *    completed and only the cleanup was lost: drop the aside copy.
    *
    * Partitioned asides hold `col=value` child dirs and are reconciled
    * per-partition; whole-table asides are restored/dropped wholesale.
    */
  private[sinks] def recoverCrash(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val dst = new Path(path)
    val parent = dst.getParent
    if (parent == null || !fs.exists(parent)) return
    val name = dst.getName
    fs.listStatus(parent).map(_.getPath)
      .filter(p => p.getName.startsWith(name + ".tmp-") ||
        p.getName.startsWith(name + ".old-"))
      .sortBy(_.getName)
      .foreach { p =>
        if (p.getName.startsWith(name + ".tmp-")) {
          fs.delete(p, true)
        } else if (!fs.exists(dst)) {
          // whole table gone mid-swap: the aside copy IS the table
          fs.rename(p, dst)
        } else {
          val partChildren = fs.listStatus(p)
            .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          if (partChildren.isEmpty) {
            // whole-table aside and the table exists: swap completed
            fs.delete(p, true)
          } else {
            partChildren.foreach { st =>
              val partDst = new Path(dst, st.getPath.getName)
              if (!fs.exists(partDst)) fs.rename(st.getPath, partDst)
              else fs.delete(st.getPath, true)
            }
            fs.delete(p, true)
          }
        }
      }
  }

  /** Write to a temp dir, move the old table ASIDE (rename, not delete),
    * move the new one in, then drop the old copy. See [[recoverCrash]] for
    * what happens if we die in between. */
  private def swapWrite(spark: SparkSession, df: DataFrame, path: String,
      partitionCol: Option[String]): Unit = {
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + ".tmp-" + suffix
    val w = df.write.mode(SaveMode.Overwrite)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(tmp)
    val fs = fsFor(spark, path)
    val dst = new Path(path)
    val aside = new Path(path + ".old-" + suffix)
    val hadOld = fs.exists(dst)
    if (hadOld) fs.rename(dst, aside)
    fs.rename(new Path(tmp), dst)
    if (hadOld) fs.delete(aside, true)
  }

  /** Swap ONLY the partition dirs present under `tmp` into `path`, and drop
    * the `replaced` dirs the merge left no row in (an update moved every
    * key to another partition), leaving every other partition dir untouched
    * (same files, same bytes). Displaced partition dirs go aside first so [[recoverCrash]] can
    * reconcile a crash mid-loop. */
  private def swapPartitions(spark: SparkSession, tmp: String, path: String,
      suffix: String, replaced: Seq[Path]): Unit = {
    val fs = fsFor(spark, path)
    val dstRoot = new Path(path)
    val aside = new Path(path + ".old-" + suffix)
    val parts = fs.listStatus(new Path(tmp))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    val written = parts.map(_.getPath.getName).toSet
    val emptied = replaced.filterNot(p => written(p.getName))
    if (parts.nonEmpty || emptied.nonEmpty) fs.mkdirs(aside)
    parts.foreach { st =>
      val dst = new Path(dstRoot, st.getPath.getName)
      if (fs.exists(dst)) fs.rename(dst, new Path(aside, st.getPath.getName))
      fs.rename(st.getPath, dst)
    }
    emptied.foreach(p => fs.rename(p, new Path(aside, p.getName)))
    if (parts.nonEmpty || emptied.nonEmpty) fs.delete(aside, true)
    fs.delete(new Path(tmp), true) // leftovers: _SUCCESS marker
  }

  /** K3: append, skipping empty batches. Recovery runs first: appending
    * into the no-table window of a crashed swap would re-create the dir and
    * make the NEXT sink call mistake the displaced table for a completed
    * swap and drop it. */
  def append(spark: SparkSession, path: String, batch: DataFrame): Unit =
    if (!batch.isEmpty) {
      recoverCrash(spark, path)
      batch.write.mode(SaveMode.Append).parquet(path)
    }

  /** The partition column of the table at `path` (from its root listing,
    * after crash recovery), or None for a flat or missing table. */
  def partitionColumn(spark: SparkSession, path: String): Option[String] = {
    recoverCrash(spark, path)
    storedColumn(rootListing(spark, path))
  }

  private def storedColumn(root: Seq[FileStatus]): Option[String] =
    root.filter(_.isDirectory).map(_.getPath.getName)
      .find(_.contains("=")).map(_.takeWhile(_ != '='))

  /** Full-row upsert keyed on `keys`: rows in `updates` replace stored rows
    * with the same key (within a batch, the highest `versionCol` wins;
    * stored rows lose to any update).
    *
    * `partitionCol` lays out a NEW table. An existing table keeps its own
    * layout, read from its root listing: a caller that omits the column
    * (a repair merging into a partitioned kline sink) still writes
    * partition by partition. Whole-table rewriting a partitioned table
    * would leave a flat file that reads ignore once the next partitioned
    * write lands beside it. A caller naming a different column, or an
    * update lacking the stored one, fails before anything is written.
    *
    * `updates` is evaluated once: it is persisted on entry (unless the
    * caller already cached it) and every step reads that copy, so a lineage
    * that calls a paid upstream (the fetches of [[graft.flows.SyncKlines]])
    * or drains a stream batch runs once per call. An empty update is a
    * no-op before any layout check. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], versionCol: String,
      partitionCol: Option[String] = None): Unit = {
    val owned = updates.storageLevel == StorageLevel.NONE
    val batch =
      if (owned) updates.persist(StorageLevel.MEMORY_AND_DISK) else updates
    try mergeInto(spark, path, batch, keys, versionCol, partitionCol)
    finally if (owned) batch.unpersist(false)
  }

  private def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], versionCol: String,
      partitionCol: Option[String]): Unit = {
    // emptiness and the touched partition dirs in one job, by the column
    // the table is laid out on; a crashed swap that hides the table's
    // layout until recovery gets a second probe below
    val probed = partitionCol.orElse(storedColumn(rootListing(spark, path)))
      .filter(updates.columns.contains).map(c => c -> touchedDirs(updates, c))
    if (probed.fold(updates.isEmpty)(_._2.isEmpty)) return
    recoverCrash(spark, path)
    val root = rootListing(spark, path)
    if (root.isEmpty) {
      val w = updates.write.mode(SaveMode.Overwrite)
      partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
      return
    }
    val storedCol = storedColumn(root)
    require(partitionCol.forall(storedCol.contains),
      s"upsert into $path names partition column ${partitionCol.get}; " +
        s"the table's is ${storedCol.getOrElse("none")}")
    storedCol.foreach(c => require(updates.columns.contains(c),
      s"upsert into $path: the update lacks partition column $c"))
    // the stored rows this upsert rewrites: the touched partition dirs
    // that exist (a NULL value lives in the Hive default-partition dir), or
    // the whole flat table
    val touched = storedCol.map(c => probed.collect { case (`c`, ds) => ds }
      .getOrElse(touchedDirs(updates, c)))
    val partDirs = root.filter(st => st.isDirectory &&
      st.getPath.getName.contains("=")).map(_.getPath)
    val replaced = touched.fold(Seq.empty[Path])(ds =>
      partDirs.filter(p => ds.contains(p.getName)))
    val fs = fsFor(spark, path)
    def dataFiles(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    requireStoredColumns(spark, path,
      updates.schema.filterNot(f => storedCol.contains(f.name)),
      (replaced ++ partDirs :+ new Path(path)).iterator.flatMap(dataFiles))
    val cols = updates.columns.map(col)
    // within the update, the highest version of each key wins
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
    val winners = updates.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
    // The sink holds one row per key, so a stored row survives iff the
    // update lacks its key: a null-safe anti-join against the update's keys
    // (broadcast by the planner while they fit its threshold, as a
    // micro-batch's do) keeps the stored rows in the splits they were read
    // in, with no shuffle. The declared schema reads without inferring it.
    val reader = spark.read.schema(updates.schema).option("basePath", path)
    val stored = storedCol match {
      case Some(_) if replaced.isEmpty => None
      case Some(_) => Some(reader.parquet(replaced.map(_.toString): _*))
      case None => Some(reader.parquet(path))
    }
    val merged = stored.fold(winners) { s =>
      val u = updates.select(keys.map(k => col(k).as(s"_u_$k")): _*)
      val kept = s.join(u,
        keys.map(k => s(k) <=> col(s"_u_$k")).reduce(_ && _), "left_anti")
      // as many output partitions as stored splits, up to the shuffle
      // partitions the window merge wrote: the rewrite keeps its
      // parallelism, and a partition dir never holds more files than that
      kept.select(cols: _*).unionByName(winners).coalesce(
        s.rdd.getNumPartitions.min(SQLConf.get.numShufflePartitions).max(1))
    }
    storedCol match {
      case Some(c) =>
        // read + merge + rewrite ONLY the touched partitions; everything
        // else stays on disk untouched (no read, no shuffle, no rewrite).
        val suffix = java.util.UUID.randomUUID().toString.take(8)
        val tmp = path + ".tmp-" + suffix
        // cluster rows by key within each written file: parquet row-group
        // min/max stats stay tight, so key/time-filtered reads of a day
        // partition skip most row groups
        val clustered = merged.sortWithinPartitions((col(c) +: keys.map(col)): _*)
        // the tmp write is the action that reads `path`; renames happen after
        clustered.write.mode(SaveMode.Overwrite).partitionBy(c).parquet(tmp)
        swapPartitions(spark, tmp, path, suffix, replaced)
      case None =>
        swapWrite(spark, merged, path, None)
    }
  }

  /** The partition dir names (`c=value`, Hive default dir for NULL) the
    * rows of `updates` fall in, in one job with no shuffle: each task
    * returns its own set. Empty iff `updates` is. */
  private def touchedDirs(updates: DataFrame, c: String): Seq[String] =
    updates.select(col(c).cast("string")).rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .collect().distinct
      .map(ExternalCatalogUtils.getPartitionPathString(c, _)).toSeq

  /** Fail unless the first of the stored data `files` has every column of
    * `data` with the same type. The merge reads the stored rows with the
    * update's schema, and a declared schema would null-fill a missing
    * column in silence. */
  private def requireStoredColumns(spark: SparkSession, path: String,
      data: Seq[StructField], files: Iterator[FileStatus]): Unit =
    files.nextOption().foreach { st =>
      val conf = SQLConf.get
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st,
        spark.sparkContext.hadoopConfiguration))
      val footer = try new ParquetToSparkSchemaConverter(conf)
        .convert(reader.getFooter.getFileMetaData.getSchema)
      finally reader.close()
      data.foreach { f =>
        val found = footer.find(s => conf.resolver(s.name, f.name))
        require(found.exists(s => s.dataType.catalogString == f.dataType.catalogString),
          s"upsert into $path: the update's ${f.name} ${f.dataType.catalogString} " +
            found.fold("is missing from")(s =>
              s"is ${s.dataType.catalogString} in") + s" stored file ${st.getPath}")
      }
    }

  /** Field-subset update (MySQL `ON DUPLICATE KEY UPDATE`): for existing
    * keys, only `updateCols` take the update's values — all other columns
    * keep their stored values; unseen keys insert whole rows.
    *
    * Within a batch, duplicate keys collapse to ONE row before the join
    * (two same-key matches against a full_outer join would otherwise insert
    * duplicate key rows, breaking the unique-key contract). The reference's
    * `executemany` applies rows in batch order, last-wins; row order is not
    * a DataFrame concept, so the winner is deterministic instead: greatest
    * `updateCols` tuple (descending, nulls last). */
  def updateFields(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], updateCols: Seq[String]): Unit = {
    if (updates.isEmpty) return
    recoverCrash(spark, path)
    val ww = Window.partitionBy(keys.map(col): _*)
      .orderBy(updateCols.map(c => col(c).desc_nulls_last): _*)
    val batch = updates
      .withColumn("_urn", row_number().over(ww))
      .where(col("_urn") === 1)
      .drop("_urn")
    if (rootListing(spark, path).isEmpty) {
      batch.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val stored = spark.read.parquet(path).withColumn("_s", lit(true))
    val cols = stored.columns.filterNot(_ == "_s")
    val u = batch.select(cols.map(c => col(c).as(s"_u_$c")): _*)
      .withColumn("_u", lit(true))
    val joined = stored.join(u,
      keys.map(k => col(k) === col(s"_u_$k")).reduce(_ && _), "full_outer")
    val fromUpdate = col("_u").isNotNull
    val fromStored = col("_s").isNotNull
    val out = joined.select(cols.map { c =>
      if (keys.contains(c))
        coalesce(col(c), col(s"_u_$c")).as(c)
      else if (updateCols.contains(c))
        // update's value (even NULL) whenever an update row exists
        when(fromUpdate, col(s"_u_$c")).otherwise(col(c)).as(c)
      else
        // stored value (even NULL) whenever a stored row exists
        when(fromStored, col(c)).otherwise(col(s"_u_$c")).as(c)
    }: _*)
    swapWrite(spark, out, path, None)
  }
}
