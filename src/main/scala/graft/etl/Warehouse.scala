package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, to_date}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Parquet-backed warehouse with snapshot-manifest semantics.
  *
  * The reference wraps its whole nightly run in ONE Postgres transaction
  * (`main.py:18`, single commit at `main.py:472`) — every table mutates or
  * none does. Vanilla Spark has no cross-table transaction, so the
  * warehouse uses the standard lakehouse trick: immutable data directories
  * plus a single atomically-swapped catalog file.
  *
  * Layout under `root/`:
  * {{{
  *   _catalog.json                      // table -> list of data dirs (the
  *                                      // ONLY mutable file; swapped via
  *                                      // ATOMIC_MOVE => all-or-nothing runs)
  *   data/<table>/<uuid>/part-*.parquet // immutable, write-once
  * }}}
  *
  * Scale notes (100 TB): commits are O(1) metadata, appends never rewrite
  * existing data (a new data dir is referenced alongside the old ones —
  * daily fact batches land as their own directories, giving date-aligned
  * pruning for free), and overwrites retire directories logically
  * (`vacuum()` reclaims them). Readers always see the catalog as of their
  * `begin()`, i.e. snapshot isolation for the duration of a run. Every
  * commit also leaves an immutable numbered catalog snapshot under
  * `_versions/` — [[readAsOf]] replays any retained version (TIME
  * TRAVEL), and `vacuum(retainVersions)` sets the retention horizon.
  *
  * Dims additionally use a BUCKETED layout (`bucketSpec`: table → SCD1
  * key + bucket count): data dirs are written with Spark's bucketed
  * writer (one file per key-hash bucket) and read back IN PLACE — a
  * file-listing relation that takes its bucket spec from `bucketSpec`
  * and its size from the file lengths, with no session-catalog table
  * (nothing to register, drop or race on between concurrent writers;
  * the dir's own layout is its metadata). So the nightly SCD1 merge
  * (a) plans with NO dim-side Exchange — the scan's HashPartitioning
  * satisfies the join's distribution from the files themselves — and
  * (b) via [[Txn.overwriteBuckets]] rewrites ONLY the buckets containing
  * changed keys, hard-linking the untouched buckets' files byte-
  * identically into the new immutable dir. At a 100 TB dim with ~1%
  * daily churn that turns the run's dominant cost (full dim shuffle +
  * full rewrite) into a delta-sized merge + delta-sized write.
  *
  * The big fact table combines BOTH layouts: date partitions inside
  * each append dir (IO pruning) and key-hash buckets within each
  * partition (join co-location) — `Pipeline.freshFactRows` chains the
  * dedup anti-join per dir so no fact row or id ever crosses an
  * Exchange. Note the layouts are not retro-fitted: a dir written
  * before its table had a `bucketSpec` entry must be rewritten
  * (`compact()`) before bucketed reads of it are sound.
  */
class Warehouse(val spark: SparkSession, val root: String,
                val schemas: Map[String, StructType] = Schemas.tables,
                val partitionSpec: Map[String, (String, Column)] = Warehouse.defaultPartitions,
                val autoCompactThreshold: Int = 64,
                val bucketSpec: Map[String, (String, Int)] = Warehouse.defaultBuckets) {

  private val catalogPath: Path = Paths.get(root, "_catalog.json")
  private val versionsDir: Path = Paths.get(root, "_versions")
  // per-root, JVM-wide (instances over one root share it): serializes
  // commitCatalogIf's compare+swap and commitCatalog's version numbering
  private val commitLock: Object = Warehouse.commitLockFor(root)
  Files.createDirectories(Paths.get(root, "data"))

  def emptyDf(table: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas(table))

  /** Snapshot a directory listing, CLOSING the underlying stream —
    * `Files.list` holds an open fd until closed, and the recursive
    * walks here (vacuum over thousands of retired dirs) would otherwise
    * leak one fd per directory visited until GC.
    */
  private[etl] def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** Committed catalog: table → data dirs, in append order. */
  def catalog(): Map[String, Seq[String]] =
    if (!Files.exists(catalogPath)) Map.empty
    else CatalogJson.parse(Files.readString(catalogPath))

  /** Raw catalog file content ("" = absent) — the CAS token every
    * read-modify-retry loop compares through [[commitCatalogIf]]; one
    * definition of the absent-file convention instead of four.
    */
  private[etl] def readCatalogRaw(): String =
    if (Files.exists(catalogPath)) Files.readString(catalogPath) else ""

  private[etl] def parseCatalogRaw(raw: String): Map[String, Seq[String]] =
    if (raw.isEmpty) Map.empty else CatalogJson.parse(raw)

  /** Read the committed image of a table (partition columns dropped —
    * the declared schema is the contract; also robust to all-empty data
    * dirs, where inference would fail). Outstanding deletion vectors
    * are applied (see [[Txn.deleteVectored]]).
    */
  def read(table: String): DataFrame = {
    val cat = catalog()
    readDirs(table, cat.getOrElse(table, Nil),
      cat.getOrElse(Warehouse.dvKey(table), Nil))
  }

  private[etl] def readDirs(table: String, dirs: Seq[String],
                            dvDirs: Seq[String] = Nil): DataFrame = {
    val schema = schemas(table)
    val fields = schema.fieldNames.toIndexedSeq
    if (dirs.isEmpty) return emptyDf(table)
    if (dvDirs.isEmpty) {
      if (bucketSpec.contains(table) && dirs.length == 1)
        // single-dir bucketed table (the dim steady state — overwrites
        // always leave exactly one dir): read as a bucketed relation so
        // the scan carries HashPartitioning(key, n) and key-joins/
        // aggregations need no dim-side Exchange
        readBucketedDir(table, dirs.head).select(fields.map(col): _*)
      else if (!partitionSpec.contains(table))
        spark.read.schema(schema).parquet(dirs: _*)
      else
        // partitioned roots must be discovered one by one — a multi-path
        // scan would try to unify partition structure across roots and
        // fail with CONFLICTING_DIRECTORY_STRUCTURES
        dirs.map(d => spark.read.schema(schema).parquet(d)
            .select(fields.map(col): _*))
          .reduce(_ unionByName _)
    } else {
      // DELETION VECTORS outstanding: read with the row-provenance
      // columns, anti-join the (file path, row position) tombstone
      // set, then project back to the declared schema. The DV side is
      // delete-sized, so it BROADCASTS — and a broadcast left-anti
      // preserves the streamed side's outputPartitioning, which keeps
      // the bucketed dim scan's HashPartitioning (the zero-Exchange
      // merge property survives logical deletes).
      applyDv(readWithProvenance(table, dirs), dvDirs)
        .select(fields.map(col): _*)
    }
  }

  /** Read `table`'s dirs with the row-provenance columns
    * ([[Warehouse.DvFile]] = FULL file path, [[Warehouse.DvPos]] = row
    * position within the file) riding after the declared columns — the
    * identity a deletion-vector tombstone names. Full path, not
    * basename: basenames repeat across dirs (hard-linked bucket
    * carry-over, shallow clones share whole dirs), so a basename key
    * could suppress rows in a DIFFERENT dir's same-named file.
    */
  private[etl] def readWithProvenance(table: String, dirs: Seq[String]): DataFrame = {
    val schema = schemas(table)
    val fields = schema.fieldNames.toIndexedSeq
    val meta = Seq(col("_metadata.file_path").as(Warehouse.DvFile),
      col("_metadata.row_index").as(Warehouse.DvPos))
    if (bucketSpec.contains(table) && dirs.length == 1)
      readBucketedDir(table, dirs.head).select(fields.map(col) ++ meta: _*)
    else if (!partitionSpec.contains(table))
      spark.read.schema(schema).parquet(dirs: _*).select(fields.map(col) ++ meta: _*)
    else
      dirs.map(d => spark.read.schema(schema).parquet(d)
          .select(fields.map(col) ++ meta: _*))
        .reduce(_ unionByName _)
  }

  /** Anti-join `base` (which must carry [[Warehouse.DvFile]]/
    * [[Warehouse.DvPos]]) against the tombstones in `dvDirs`.
    */
  private[etl] def applyDv(base: DataFrame, dvDirs: Seq[String]): DataFrame = {
    val dv = broadcast(readDvDirs(dvDirs))
    base.join(dv, Seq(Warehouse.DvFile, Warehouse.DvPos), "left_anti")
  }

  /** Apply tombstones to an arbitrary scan that already carries the
    * [[provCols]] provenance columns (callers attach them per
    * UNDERLYING scan — the hidden `_metadata` struct is not resolvable
    * after a union), dropping the provenance afterwards. No-op with no
    * DV dirs.
    */
  private[etl] def applyDvTo(df: DataFrame, dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty) df
    else applyDv(df, dvDirs).drop(Warehouse.DvFile, Warehouse.DvPos)

  /** The provenance columns for a single file-source scan. */
  private[etl] def provCols: Seq[Column] =
    Seq(col("_metadata.file_path").as(Warehouse.DvFile),
      col("_metadata.row_index").as(Warehouse.DvPos))

  private[etl] def readDvDirs(dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Warehouse.dvSchema)
    else spark.read.schema(Warehouse.dvSchema).parquet(dvDirs: _*)

  /** Read keeping the physical partition column (when the table has one)
    * so date filters prune at the directory level —
    * `PartitionFilters: [trans_dt = ...]` in explain.
    */
  def readRaw(table: String, dirsIn: Seq[String] = Nil): DataFrame = {
    val cat = catalog()
    val dirs = if (dirsIn.nonEmpty) dirsIn else cat.getOrElse(table, Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    if (dirs.isEmpty) emptyDf(table)
    else if (dv.isEmpty) dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
    else applyDvTo(
      dirs.map(d => spark.read.parquet(d).select(col("*") +: provCols: _*))
        .reduce(_ unionByName _), dv)
  }

  def begin(): Txn = new Txn(this)

  /** Compact a table's many append dirs into one freshly-written dir
    * (single catalog swap). At scale this is the periodic maintenance
    * job that bounds read amplification from daily appends; readers are
    * unaffected (snapshot isolation), and the retired dirs are
    * reclaimed by the next `vacuum()`.
    *
    * Also the LAYOUT-REPAIR route: a single-dir table whose dir predates
    * its `bucketSpec` entry (files without bucket naming) cannot be read
    * as a bucketed relation, so compacting a single-dir
    * bucketed table reads the dir as PLAIN parquet and rewrites it
    * through the bucketed writer — after which bucketed reads are sound.
    * (Re-compacting an already-bucketed dir is a harmless rewrite.)
    */
  def compact(table: String): Unit = {
    val cat = catalog()
    val dirs = cat.getOrElse(table, Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    if (dirs.length > 1 || (dv.nonEmpty && dirs.nonEmpty)) {
      // txn.read applies outstanding deletion vectors, so the rewrite
      // MATERIALIZES them; overwrite() clears the table's DV entry
      val txn = begin()
      txn.overwrite(table, txn.read(table))
      txn.commit()
    } else if (dirs.length == 1 && bucketSpec.contains(table)) {
      val schema = schemas(table)
      val plain = spark.read.schema(schema).parquet(dirs.head)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      val txn = begin()
      txn.overwrite(table, plain)
      txn.commit()
    }
  }

  /** OPTIMIZE ZORDER — compact a flat-layout table into ONE data dir
    * z-ordered on two columns ([[graft.operators.Layout]]), so range
    * predicates on EITHER column prune files through the skipping
    * index ([[readSkipping]]; the sidecar is written as part of the
    * compaction). The Delta/Iceberg table-maintenance job: one
    * range-partitioned sort at write time, amortized over every
    * subsequent scan. Same CAS commit discipline as [[compactOldest]]:
    * dirs another writer appends during the (long) rewrite stay
    * referenced; on persistent contention the rewrite is abandoned,
    * never half-applied (the orphan dir is vacuumed later).
    */
  def compactZOrdered(table: String, aCol: String, bCol: String,
                      files: Int, bits: Int = 16): Unit = {
    require(!bucketSpec.contains(table) && !partitionSpec.contains(table),
      s"z-order compaction applies to flat layouts; $table has a bucket/partition spec")
    var rounds = 0
    var committed = false
    // outer loop: a concurrent deleteVectored during the rewrite means
    // tombstones exist that name files this commit would retire — they
    // cannot be folded in post-hoc, so the stale dir is abandoned (a
    // safe no-op; vacuum reclaims it) and the REWRITE re-runs against
    // the current DV set. Vectored deletes are normal writers (GDPR
    // erasure), not the single 'maintenance' writer — losing them
    // would silently resurrect deleted rows.
    while (!committed && rounds < 3) {
      val cat0 = catalog()
      val old = cat0.getOrElse(table, Nil)
      if (old.isEmpty) return
      val dvOld = cat0.getOrElse(Warehouse.dvKey(table), Nil)
      val dir = newDataDir(table)
      val schema = schemas(table)
      graft.operators.Layout.writeZOrdered(
        readDirs(table, old, dvOld)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*),
        dir, aCol, bCol, files, bits)
      graft.sources.DataSkipping.writeSidecar(spark, dir)
      compactionBarrier()
      var attempts = 0
      var stale = false
      while (!committed && !stale && attempts < 5) {
        val expected = readCatalogRaw()
        val cat = parseCatalogRaw(expected)
        val curDirs = cat.getOrElse(table, Nil)
        // stale if the DV entry moved OR any merged dir left the
        // catalog: an overwrite/deleteWhere rewrite committed during
        // the merge REPLACES dirs, and filterNot would silently fold
        // the pre-overwrite rows back in (resurrection + double count)
        if (cat.getOrElse(Warehouse.dvKey(table), Nil) != dvOld ||
            !old.forall(curDirs.contains)) stale = true
        else {
          val kept = curDirs.filterNot(old.toSet)
          // the rewrite covered ALL dirs as of cat0 with dvOld applied,
          // so the DV entry (unchanged since cat0 — checked above) is
          // consumed by this commit
          committed = commitCatalogIf(expected,
            cat + (table -> (dir +: kept)) + (Warehouse.dvKey(table) -> Nil))
          attempts += 1
        }
      }
      rounds += 1
    }
  }

  /** Incremental compaction: merge the OLDEST data dirs of `table` into
    * one, leaving the most recent `keep` dirs untouched. Bounds the
    * read-side plan growth from daily appends (the unionByName chain in
    * [[readDirs]] is linear in dir count) without a full-table rewrite
    * each time — recent hot dirs never move; the cold prefix is
    * re-merged only when the dir count crosses the threshold again
    * (tiered-merge write amplification, the usual LSM trade).
    * [[Txn.commit]] invokes this automatically for any written table
    * past `autoCompactThreshold` dirs.
    *
    * Concurrency: the catalog swap is a compare-and-swap on the catalog
    * file's content — the read-modify-write is retried when a commit
    * lands between the post-merge re-read and the swap, and the
    * compaction ABORTS (a safe no-op: the merged dir is simply never
    * referenced and the next `vacuum()` reclaims it) if the catalog
    * keeps moving. The CAS closes the lost-update window down to the
    * compare-vs-move race inside [[commitCatalogIf]]; full mutual
    * exclusion (e.g. two compactions of the SAME table each committing a
    * merged copy of the same rows) still assumes one maintenance writer
    * per warehouse, same as every file-based table format without a
    * lock service.
    */
  def compactOldest(table: String, keep: Int = 16): Unit = {
    var rounds = 0
    var committed = false
    // outer loop mirrors [[compactZOrdered]]: a vectored delete that
    // lands DURING the merge write may tombstone rows of the very dirs
    // being merged — the merge read applied only the DV set it started
    // from, so committing would resurrect those rows. Detected via the
    // DV entry in the CAS; the stale merged dir is abandoned (vacuumed
    // later) and the merge re-runs against the current DV set.
    while (!committed && rounds < 3) {
      val cat0 = catalog()
      val dirs = cat0.getOrElse(table, Nil)
      if (dirs.length <= keep + 1) return
      val dv0 = cat0.getOrElse(Warehouse.dvKey(table), Nil)
      val (old, _) = dirs.splitAt(dirs.length - keep)
      // outstanding DVs apply to the merge read, so tombstoned rows of
      // the OLD dirs are materialized away; tombstones naming kept
      // dirs' files stay live in the (unchanged) DV entry, and the
      // now-dead tombstones naming merged files match nothing — they
      // are dropped at the next full overwrite or DV compaction
      val merged = writeDataDir(table, readDirs(table, old, dv0))
      compactionBarrier()
      // re-read the catalog AFTER the (long) merge write and replace only
      // the `old` prefix — any dir another writer appended meanwhile
      // stays referenced instead of being silently dropped
      var attempts = 0
      var stale = false
      while (!committed && !stale && attempts < 5) {
        val expected = readCatalogRaw()
        val cat = parseCatalogRaw(expected)
        val curDirs = cat.getOrElse(table, Nil)
        // same staleness rule as [[compactZOrdered]]: a concurrent
        // overwrite RETIRES dirs — if any merged-away dir is gone from
        // the catalog, committing `merged` would resurrect its
        // (replaced) rows alongside the overwrite's image
        if (cat.getOrElse(Warehouse.dvKey(table), Nil) != dv0 ||
            !old.forall(curDirs.contains)) stale = true
        else {
          val kept = curDirs.filterNot(old.toSet)
          committed = commitCatalogIf(expected, cat + (table -> (merged +: kept)))
          attempts += 1
        }
      }
      rounds += 1
      // on persistent contention the merge is abandoned, never half-applied
    }
  }

  /** Delete data directories no longer referenced by the catalog. */
  /** Reclaim data dirs referenced by neither the current catalog nor the
    * newest `retainVersions` historical versions, and prune version
    * files past that horizon (the newest version file — the current
    * state's mirror — always survives). `retainVersions = 0` (default)
    * keeps today's behavior: only current data survives, time travel
    * resets. Returns the number of data dirs removed.
    */
  def vacuum(retainVersions: Int = 0,
             graceMs: Long = Warehouse.DefaultVacuumGraceMs): Int = {
    val vfs = versionFiles()
    val keptVersions = vfs.takeRight(math.max(1, retainVersions + 1))
    vfs.dropRight(math.max(1, retainVersions + 1))
      .foreach { case (_, p) => Files.deleteIfExists(p) }
    val live = (catalog().values.flatten ++
        keptVersions.flatMap { case (v, _) => catalogAsOf(v).values.flatten })
      .map(Paths.get(_).toAbsolutePath.toString).toSet
    val dataRoot = Paths.get(root, "data")
    // GRACE: an unreferenced dir younger than `graceMs` may belong to an
    // IN-FLIGHT transaction or compaction — its writer has materialized
    // the files but not yet swapped the catalog, and liveness computed
    // from committed catalogs alone cannot see it. Deleting it would let
    // the writer commit a pointer to vanished paths (permanent table
    // corruption, no error at commit time). Retired-dir reclamation is
    // only deferred by one grace window.
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    if (Files.exists(dataRoot)) {
      listDir(dataRoot).foreach { tableDir =>
        if (Files.isDirectory(tableDir))
          listDir(tableDir).foreach { d =>
            if (Files.isDirectory(d) && !live.contains(d.toAbsolutePath.toString) &&
                Files.getLastModifiedTime(d).toMillis < cutoff) {
              deleteRecursively(d); removed += 1
            }
          }
      }
    }
    removed
  }

  private[etl] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private[etl] def newDataDir(table: String): String =
    Paths.get(root, "data", table, UUID.randomUUID().toString).toString

  /** Write one immutable data dir, applying the table's partition spec.
    * Facts partition by event date: daily appends become one (or a few)
    * `dt=`-style directories each, so date-filtered scans prune whole
    * days and a 100 TB fact table never rewrites history. Tables with a
    * `bucketSpec` entry write through the bucketed path instead.
    */
  private[etl] def writeDataDir(table: String, df: DataFrame): String = {
    val dir = writeDataFiles(table, df)
    // every data dir gets a file-stats sidecar at WRITE time (footers
    // are hot in the page cache right now; partition subdirs walked
    // recursively), so [[readSkipping]] prunes with zero per-file
    // metadata I/O forever after — the dir is immutable.
    graft.sources.DataSkipping.writeSidecar(spark, dir)
    dir
  }

  /** [[writeDataDir]] without the stats sidecar — for writers that add
    * more files (hard-linked carry-over buckets) before the dir is
    * complete and then write the sidecar once themselves.
    */
  private[etl] def writeDataFiles(table: String, df: DataFrame): String = {
    val dir = newDataDir(table)
    (partitionSpec.get(table), bucketSpec.get(table)) match {
      case (Some((name, derive)), Some(_)) =>
        // the production fact layout: date partitions prune IO, key-hash
        // buckets kill the join shuffle — each `dt=` dir holds one file
        // per (bucket × date) and the scan still carries
        // HashPartitioning(key, n) (bucket id is per-row, not per-dir)
        writeBucketedDir(table, df.withColumn(name, derive), dir, Some(name))
      case (Some((name, derive)), None) =>
        df.withColumn(name, derive).write.partitionBy(name).parquet(dir)
      case (None, Some(_)) =>
        writeBucketedDir(table, df, dir, None)
      case _ =>
        df.write.parquet(dir)
    }
    dir
  }

  /** Build per-file BLOOM sidecars over `cols` in every current data
    * dir of `table` — the point-lookup complement to the min/max stats
    * sidecar: on a column the layout does not cluster (ids probed by
    * value), every file's range spans the domain and stats prune
    * nothing, while the bloom refutes the non-containing files at
    * planning time ([[readSkipping]] consults both automatically).
    * A maintenance action like [[compactZOrdered]]: run it once per
    * table; dirs committed AFTER it lack the sidecar and simply don't
    * prune until the next run (conservative, never wrong). One
    * distributed pass per (dir, col); the driver holds
    * files × mBits/8 bytes — bucket-bounded, never data-sized.
    */
  def indexBloom(table: String, cols: Seq[String],
                 mBits: Long = 1L << 17, k: Int = 5): Unit =
    catalog().getOrElse(table, Nil).foreach { d =>
      graft.sources.DataSkipping.writeBloomSidecar(spark, d, cols, mBits, k)
    }

  /** Read `table` through the FILE-SKIPPING index
    * ([[graft.sources.DataSkipping]]): pushed point/range predicates
    * are resolved at planning time against the per-file min/max stats
    * persisted in each data dir's commit-time sidecar, so files that
    * provably hold no matching row never become scan tasks. The
    * filter-heavy lookup path — a key probe into an append-only table
    * whose batches are naturally range-clustered (time, sequence ids)
    * touches the one file that can match instead of all of them.
    *
    * Date-partitioned tables compose BOTH pruning levers: a partition-
    * column predicate drops whole `dt=` subdirs (Spark partition
    * pruning, per dir), a data-column predicate drops FILES inside the
    * surviving subdirs (the stats); the partition column rides along
    * after the declared columns, like [[readRaw]]. A bucketed table
    * reads fine but as a PLAIN scan — merges should keep using
    * [[read]] for its HashPartitioning. Returns one index per data dir
    * (sum their counters for table-level pruning numbers).
    */
  def readSkipping(table: String): (DataFrame, Seq[graft.sources.DataSkipping.StatsFileIndex]) = {
    val cat = catalog()
    val dirs = cat.getOrElse(table, Nil)
    if (dirs.isEmpty) return (emptyDf(table), Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    val schema = schemas(table)
    // with DVs outstanding, provenance is attached per UNDERLYING scan
    // (hidden `_metadata` does not survive a union) and the broadcast
    // anti-join lands ON TOP of the skip-scan — pushed data predicates
    // still reach the stats index below the join
    def one(d: Seq[String]) = {
      val (df, idx) = graft.sources.DataSkipping.readWithIndex(spark, schema, d)
      (if (dv.isEmpty) df else df.select(col("*") +: provCols: _*), idx)
    }
    if (!partitionSpec.contains(table)) {
      val (df, idx) = one(dirs)
      (applyDvTo(df, dv), Seq(idx))
    } else {
      // partitioned roots must be discovered one by one (the
      // CONFLICTING_DIRECTORY_STRUCTURES contract, as in readDirs)
      val parts = dirs.map(d => one(Seq(d)))
      (applyDvTo(parts.map(_._1).reduce(_ unionByName _), dv), parts.map(_._2))
    }
  }

  /** Bucketed write with no catalog registration
    * ([[org.apache.spark.sql.graftbridge.Bridge.writeBucketed]]): Spark's
    * bucketed writer encodes the bucket id in each file name, the
    * contract [[readBucketedDir]] and [[copyUntouchedBuckets]] rely on.
    * The `repartition(n, key)` uses the SAME hash (`Murmur3` mod n) as
    * the bucket assignment, so every task holds exactly one bucket's
    * rows → exactly one file per non-empty bucket (which also keeps
    * Spark trusting the sort order on read).
    */
  private def writeBucketedDir(table: String, df: DataFrame, dir: String,
                               partitionCol: Option[String]): Unit = {
    val (key, n) = bucketSpec(table)
    org.apache.spark.sql.graftbridge.Bridge.writeBucketed(spark,
      df.repartition(n, col(key)), dir, key, n, partitionCol)
  }

  /** Read one data dir as a BUCKETED relation straight from its files
    * ([[org.apache.spark.sql.graftbridge.Bridge.readBucketed]]): the
    * bucket spec comes from `bucketSpec`, the partition column's type
    * from the partition expression (so the read never drifts from what
    * [[writeDataDir]] produced), and nothing touches the session
    * catalog — concurrent readers of one dir share no state.
    */
  private[etl] def readBucketedDir(table: String, dir: String): DataFrame = {
    val (key, n) = bucketSpec(table)
    val partSchema = partitionSpec.get(table) match {
      case Some((p, derive)) => StructType(Seq(emptyDf(table).withColumn(p, derive).schema(p)))
      case None => StructType(Nil)
    }
    org.apache.spark.sql.graftbridge.Bridge.readBucketed(spark, dir, schemas(table),
      partSchema, key, n)
  }

  /** Hard-link (fall back: copy — byte-identical either way) the files
    * of every bucket NOT in `touched` from `fromDir` into `toDir`.
    * Bucket ids are parsed from Spark's bucketed file naming
    * (`part-…_<bucketId>.c000….parquet`), the same convention the
    * bucketed scan uses. The walk is RECURSIVE with relative paths
    * preserved — a partitioned+bucketed table (the fact layout) keeps
    * its files inside `dt=`-style subdirs, and a flat listing would
    * silently carry nothing.
    */
  private[etl] def copyUntouchedBuckets(fromDir: String, toDir: String,
                                        touched: Set[Int]): Unit = {
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    val from = Paths.get(fromDir)
    Files.createDirectories(Paths.get(toDir))
    def walk(d: Path): Unit =
      listDir(d).foreach { f =>
        val fname = f.getFileName.toString
        if (Files.isDirectory(f)) walk(f)
        else if (Files.isRegularFile(f) && fname.endsWith(".parquet")) fname match {
          case bucketRe(b) if !touched.contains(b.toInt) =>
            val dst = Paths.get(toDir).resolve(from.relativize(f))
            Files.createDirectories(dst.getParent)
            try Files.createLink(dst, f)
            catch { case _: Exception => Files.copy(f, dst) }
          case _ => ()
        }
      }
    walk(from)
  }

  private[etl] def commitCatalog(entries: Map[String, Seq[String]]): Unit =
    commitLock.synchronized {
    val bytes = CatalogJson.render(entries).getBytes(StandardCharsets.UTF_8)
    // TIME TRAVEL: an immutable numbered copy per commit, written BEFORE
    // the pointer swap so the history is always a superset of pointer
    // states (a version file whose swap lost a race is a version that
    // was superseded instantly — harmless; ordering of history numbers
    // shares the documented single-maintenance-writer assumption).
    // Version files are metadata-sized; vacuum() prunes them.
    Files.createDirectories(versionsDir)
    // tmp + ATOMIC_MOVE like the pointer itself: the tolerant regex
    // parser would accept a TORN version file as a partial catalog, and
    // vacuum computes liveness from retained versions — a half-written
    // snapshot must never be observable
    val vtmp = Paths.get(root, s"_version.${UUID.randomUUID()}.tmp")
    Files.write(vtmp, bytes)
    Files.move(vtmp, versionsDir.resolve(f"v${nextVersion()}%08d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmp = Paths.get(root, s"_catalog.${UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, catalogPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    }

  private def versionFiles(): Seq[(Long, Path)] =
    if (!Files.exists(versionsDir)) Nil
    else listDir(versionsDir).iterator
      .filter(p => p.getFileName.toString.matches("v\\d{8}\\.json"))
      .map(p => p.getFileName.toString.drop(1).take(8).toLong -> p)
      .toSeq.sortBy(_._1)

  private def nextVersion(): Long =
    versionFiles().lastOption.map(_._1 + 1).getOrElse(1L)

  /** Committed versions, oldest first. */
  def versions(): Seq[Long] = versionFiles().map(_._1)

  /** The catalog as of a committed `version` (see [[versions]]). */
  def catalogAsOf(version: Long): Map[String, Seq[String]] = {
    val p = versionsDir.resolve(f"v$version%08d.json")
    require(Files.exists(p), s"version $version not found (vacuumed?)")
    CatalogJson.parse(Files.readString(p))
  }

  /** TIME TRAVEL read: the committed image of `table` as of `version`.
    * Works until a `vacuum()` whose `retainVersions` horizon has passed
    * that version reclaims its data dirs — the Delta/Iceberg retention
    * contract: history is free until storage is reclaimed.
    */
  def readAsOf(table: String, version: Long): DataFrame = {
    val cat = catalogAsOf(version)
    readDirs(table, cat.getOrElse(table, Nil),
      cat.getOrElse(Warehouse.dvKey(table), Nil))
  }

  /** RESTORE — roll the whole warehouse back to `version` AS A NEW
    * COMMIT (Delta's RESTORE semantics): the old catalog content is
    * re-committed forward, so the rollback is itself versioned,
    * auditable, and re-revertable — history never rewinds, the pointer
    * does. Zero data movement: the old dirs are still on disk as long
    * as no `vacuum()` horizon has passed them (the [[readAsOf]]
    * retention contract; this is why vacuum keeps dirs referenced by
    * RETAINED versions, not just the current catalog).
    */
  def restore(version: Long): Unit = commitCatalog(catalogAsOf(version))

  /** ZERO-COPY CLONE: `dst` becomes a table whose catalog entry points
    * at `src`'s CURRENT data dirs — no bytes move (Delta's SHALLOW
    * CLONE). Because dirs are immutable and commits only swap
    * pointers, the clone and the source diverge safely from here:
    * writes to either land in fresh dirs; shared dirs survive until no
    * catalog or retained version references them (`vacuum()` counts
    * references across ALL tables). The dev/test copy of a 100 TB
    * table costs one metadata write.
    *
    * `dst` must be registered in `schemas` (same shape as `src`) —
    * the read path resolves columns from the registry. Tables with a
    * `bucketSpec`/`partitionSpec` keep their layout properties only if
    * `dst` carries equivalent entries (same maps, same key).
    */
  def cloneTable(src: String, dst: String): Unit = {
    require(schemas.contains(dst),
      s"clone destination '$dst' must be registered in schemas")
    require(schemas(dst) == schemas(src),
      s"clone destination '$dst' must share '$src' schema")
    // CAS-retry like every other mutator: a blind read-modify-write
    // would silently clobber a commit that lands between catalog() and
    // the swap, resetting that writer's tables to pre-commit dirs
    var attempts = 0
    var done = false
    while (!done && attempts < 8) {
      val expected = readCatalogRaw()
      val cat = parseCatalogRaw(expected)
      done = commitCatalogIf(expected,
        cat + (dst -> cat.getOrElse(src, Nil)) +
          (Warehouse.dvKey(dst) -> cat.getOrElse(Warehouse.dvKey(src), Nil)))
      attempts += 1
    }
    if (!done) throw new java.util.ConcurrentModificationException(
      s"cloneTable($src, $dst): catalog kept moving; retry")
  }

  /** SNAPSHOT DIFF — CDC extraction between two committed versions:
    * one row per key whose image changed, with
    * `change_type ∈ {insert, delete, update}` and the full before/after
    * value structs (null on the absent side). The downstream consumer
    * of a nightly SCD1 warehouse that needs "what changed since
    * yesterday" gets it from two retained versions, without the source
    * system's cooperation.
    *
    * Plan shape: ONE full-outer join on the key. For a table with a
    * `bucketSpec` (the dims) BOTH version reads carry
    * HashPartitioning(key) from the bucketed layout, so the join plans
    * with ZERO Exchange (spec-gated) — the diff of a 100 TB dim moves
    * no data across the cluster. Value comparison is one null-safe
    * struct equality (`<=>`), codegen'd.
    */
  def diffVersions(table: String, fromVersion: Long, toVersion: Long,
                   keys: Seq[String]): DataFrame =
    ChangeFeed.diffStruct(readAsOf(table, fromVersion),
      readAsOf(table, toVersion), keys)

  /** Merge a DV key's many delete-sized dirs into one (same CAS retry
    * discipline as [[compactOldest]]). Dead tombstones — paths naming
    * files no catalog references anymore — survive the merge as
    * harmless non-matching rows; full overwrites clear them wholesale.
    * Invoked by [[Txn.commit]] when a table's DV dir count crosses the
    * auto-compact threshold.
    */
  private[etl] def compactDvKey(key: String): Unit = {
    val dirs = catalog().getOrElse(key, Nil)
    if (dirs.length > 1) {
      val merged = newDataDir(key)
      readDvDirs(dirs).distinct().write.parquet(merged)
      var attempts = 0
      var done = false
      while (!done && attempts < 5) {
        val expected = readCatalogRaw()
        val cat = parseCatalogRaw(expected)
        val kept = cat.getOrElse(key, Nil).filterNot(dirs.toSet)
        done = commitCatalogIf(expected, cat + (key -> (merged +: kept)))
        attempts += 1
      }
    }
  }

  /** Test seam: invoked between a compaction's (long) rewrite and its
    * CAS loop — the exact window where a concurrent writer's commit
    * races the maintenance job. Production no-op.
    */
  protected def compactionBarrier(): Unit = ()

  /** Test seam: invoked INSIDE [[commitCatalogIf]]'s critical section,
    * between the compare read and the swap — widening this window (a
    * spec override sleeps here) must still never let two same-expected
    * writers both win. Production no-op.
    */
  protected def casBarrier(): Unit = ()

  /** Conditional catalog swap: only commit if the file still holds
    * `expected` (empty string = file absent). Returns false — without
    * writing — on mismatch, so callers can re-derive their update from
    * the fresh content and retry.
    *
    * ATOMICITY: compare and swap run under the per-root JVM monitor
    * ([[Warehouse.commitLockFor]] — shared by every instance over the
    * same root), so IN-PROCESS concurrent writers — the Spark-driver
    * reality, and what MaintenanceChaosSpec races — can never both
    * pass the compare and silently clobber the first committer (a
    * lost delete-vector entry, pre-fix, was exactly that: caught as a
    * once-in-many-runs chaos flake under full-suite GC pressure).
    * ACROSS processes no OS-level file CAS exists; that residual
    * window is the documented single-maintenance-writer contract.
    */
  private[etl] def commitCatalogIf(expected: String,
                                   entries: Map[String, Seq[String]]): Boolean =
    commitLock.synchronized {
      val current = readCatalogRaw()
      if (current != expected) false
      else { casBarrier(); commitCatalog(entries); true }
    }
}

/** One run's transaction: reads see committed state plus this txn's own
  * writes; nothing becomes visible to other readers until `commit()`
  * swaps the catalog (K11). Several threads may write DISTINCT tables
  * of one txn concurrently (the steps of [[Pipeline.run]]); `commit()`
  * runs after they have all finished.
  */
class Txn private[etl] (private[etl] val wh: Warehouse) {
  private val snapshot: Map[String, Seq[String]] = wh.catalog()
  // concurrent map: steps of one run write DISTINCT tables from several
  // threads ([[Pipeline.run]]), and every update of an entry is atomic
  private val pending = TrieMap[String, Seq[String]]()
  private var committed = false

  /** Abandon the transaction without committing. begin() is a pure
    * in-memory catalog snapshot today, so this only clears the pending
    * map — but callers that open a txn and then discover nothing to do
    * MUST route through here, so that if Txn ever acquires external
    * state (locks, staged files) the release has one place to live.
    */
  def discard(): Unit = pending.clear()

  def read(table: String): DataFrame =
    wh.readDirs(table, currentDirs(table), currentDvDirs(table))

  /** The data dirs this txn currently sees for `table` (pending write,
    * else committed snapshot).
    */
  private[etl] def currentDirs(table: String): Seq[String] =
    pending.getOrElse(table, snapshot.getOrElse(table, Nil))

  /** The deletion-vector dirs this txn currently sees for `table`. */
  private[etl] def currentDvDirs(table: String): Seq[String] = {
    val k = Warehouse.dvKey(table)
    pending.getOrElse(k, snapshot.getOrElse(k, Nil))
  }

  /** Each of the table's data dirs as its own BUCKETED scan (declared
    * columns only — partition columns dropped, like [[read]]). A multi-
    * dir bucketed table can't be read as ONE bucketed scan (a union
    * discards the partitioning), but per-dir frames each carry
    * HashPartitioning(key, n), which is exactly what a chained per-dir
    * join (appendFact's anti-join cascade) needs.
    */
  private[etl] def readBucketedParts(table: String): Seq[DataFrame] = {
    val fields = wh.schemas(table).fieldNames.toIndexedSeq
    currentDirs(table).map(d =>
      wh.readBucketedDir(table, d).select(fields.map(org.apache.spark.sql.functions.col): _*))
  }

  /** Replace the table image (staging truncate-and-load K1/K2, dim merge
    * result K4+K6+K7). Data lands in a fresh immutable dir; old dirs are
    * retired at commit. Callers derive `df` from [[read]] (which
    * applies outstanding deletion vectors), so the fresh image
    * MATERIALIZES the deletes — the table's DV entry clears with the
    * same commit.
    */
  def overwrite(table: String, df: DataFrame): Unit = {
    pending(table) = Seq(wh.writeDataDir(table, align(table, df)))
    if (currentDvDirs(table).nonEmpty) pending(Warehouse.dvKey(table)) = Nil
  }

  /** PARTIAL overwrite of a bucketed table: `touchedDf` must hold the
    * new image of exactly the buckets in `touched` (every row's
    * `pmod(hash(key), n)` ∈ touched — the caller filters); every other
    * bucket's files are hard-linked byte-identically from the current
    * dir into the fresh one. The commit is still a whole-dir swap
    * (immutability and snapshot isolation unchanged) — what shrinks to
    * delta size is the WRITE, not the catalog semantics.
    */
  def overwriteBuckets(table: String, touchedDf: DataFrame,
                       touched: Seq[Int]): Unit = {
    require(wh.bucketSpec.contains(table), s"$table has no bucket spec")
    val current = currentDirs(table)
    require(current.length == 1,
      s"partial bucket overwrite needs exactly one current dir for $table, got ${current.length}")
    val dir = wh.writeDataFiles(table, align(table, touchedDf))
    wh.copyUntouchedBuckets(current.head, dir, touched.toSet)
    // one sidecar, after the hard links: its stats cover the whole dir
    graft.sources.DataSkipping.writeSidecar(wh.spark, dir)
    pending(table) = Seq(dir)
    remapDv(table, current.head, dir)
  }

  /** After a PARTIAL overwrite, outstanding tombstones split two ways:
    * those naming rewritten (touched-bucket) files were materialized by
    * the rewrite (the caller's frame derives from [[read]], DVs
    * applied) and die with their files; those naming hard-linked files
    * survive under a NEW full path — same dir-RELATIVE path, new dir.
    * Remap the survivors by the path BELOW the (unique, UUID-named) dir
    * segment, NOT the basename: Spark writes the SAME part-file
    * basename into every partition subdir a task touches, so on a
    * partitioned+bucketed layout a basename key would fan one tombstone
    * out to sibling partitions' same-named files — tombstoning the same
    * row position in the WRONG files. The relative path is unique
    * within a dir and hard links preserve it
    * ([[Warehouse.copyUntouchedBuckets]] resolves destinations via
    * `relativize`); anything unmatched was rewritten and drops out.
    */
  private def remapDv(table: String, oldDir: String, newDir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, substring_index}
    val dvDirs = currentDvDirs(table)
    if (dvDirs.isEmpty) return
    val oldSeg = "/" + Paths.get(oldDir).getFileName.toString + "/"
    val newSeg = "/" + Paths.get(newDir).getFileName.toString + "/"
    // relative path → new full path, derived from a scan of the new dir
    // so the path STRING FORM matches what `_metadata.file_path` yields
    // at read time exactly (it is a URI — a filesystem-listing path
    // would silently never match). One row per file after the distinct.
    val mapDf = wh.spark.read.schema(wh.schemas(table)).parquet(newDir)
      .select(
        substring_index(org.apache.spark.sql.functions.col("_metadata.file_path"), newSeg, -1)
          .as("_graft_rel"),
        org.apache.spark.sql.functions.col("_metadata.file_path").as("_graft_path"))
      .distinct()
    val remapped = wh.readDvDirs(dvDirs)
      .join(broadcast(mapDf),
        substring_index(org.apache.spark.sql.functions.col(Warehouse.DvFile), oldSeg, -1)
          === org.apache.spark.sql.functions.col("_graft_rel"))
      .select(org.apache.spark.sql.functions.col("_graft_path").as(Warehouse.DvFile),
        org.apache.spark.sql.functions.col(Warehouse.DvPos))
    val dvDir = wh.newDataDir(Warehouse.dvKey(table))
    remapped.write.parquet(dvDir)
    val n = wh.spark.read.schema(Warehouse.dvSchema).parquet(dvDir).count()
    if (n == 0L) {
      wh.deleteRecursively(Paths.get(dvDir))
      pending(Warehouse.dvKey(table)) = Nil
    } else pending(Warehouse.dvKey(table)) = Seq(dvDir)
  }

  /** CHURN-SIZED keyed upsert — the write primitive behind the CDC
    * store consumers (signature store, image-hash store, ANN index):
    * drop the `gone` keys' rows and append `build(pruned)`'s new rows,
    * rewriting ONLY the key-hash buckets the delta touches when the
    * table is bucketed by `key` — every other bucket's files hard-link
    * byte-identically into the fresh dir via [[overwriteBuckets]].
    * Per call, write bytes are proportional to the delta's bucket
    * footprint, not the table. The delta-sized `gone ∪ arrived` key
    * set derives the touched buckets (driver result bounded by the
    * bucket count); `build` sees the table pruned to those buckets,
    * which is equivalent for both an anti-join idempotence guard and
    * the appends because every appended row's key must be an `arrived`
    * key and so hashes into a touched bucket by construction (caller
    * contract). An unbucketed table falls back to a full overwrite
    * (same rows, table-sized write). An empty delta writes nothing.
    *
    * File-count note: when the write executes inside a streaming
    * foreachBatch-derived plan, the optimizer has been observed to
    * elide the pre-write exchange and keep only the required bucket
    * sort, so a TOUCHED bucket's rows may land in one file per union
    * branch of `build`'s output (2 here: carried ∪ appended) instead
    * of exactly one. Bounded (branch count, not data), rewritten
    * wholesale on the bucket's next touch, and handled by every
    * reader ([[Warehouse.readBucketedDir]] groups a bucket's files
    * into one partition) and by bucket maintenance
    * ([[Warehouse.copyUntouchedBuckets]] walks all files) — the only
    * cost is Spark not trusting SORTED BY metadata for multi-file
    * buckets. Spec-pinned in StreamingChurnWriteSpec.
    */
  def pruneAppendKeyed(table: String, key: String, gone: DataFrame,
                       arrived: DataFrame,
                       build: DataFrame => DataFrame): Unit = {
    val keys = gone.select(org.apache.spark.sql.functions.col(key))
      .unionByName(arrived.select(org.apache.spark.sql.functions.col(key)))
    bucketSlice(table, key, keys) match {
      case (slice, Some(touched)) =>
        if (touched.nonEmpty)
          overwriteBuckets(table,
            build(slice.join(gone, Seq(key), "left_anti")), touched)
      case (full, None) =>
        overwrite(table, build(full.join(gone, Seq(key), "left_anti")))
    }
  }

  /** The read-side companion of [[overwriteBuckets]]: the table
    * restricted to the key-hash buckets `keysDf` touches, plus the
    * touched bucket list, when the bucketed partial path applies
    * (table bucketed by `key`, one current dir — the same guard every
    * bucket-pruned writer uses). Otherwise the full table and `None`.
    * The touched derivation collects one row per DISTINCT bucket —
    * bounded by the bucket count, never the delta.
    */
  def bucketSlice(table: String, key: String, keysDf: DataFrame)
      : (DataFrame, Option[IndexedSeq[Int]]) = {
    import org.apache.spark.sql.functions.{col, hash, lit => l, pmod}
    wh.bucketSpec.get(table) match {
      case Some((bucketKey, n)) if bucketKey == key &&
          currentDirs(table).length == 1 =>
        val touched = keysDf
          .select(pmod(hash(col(key)), l(n)).as("b"))
          .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
        (read(table).filter(Scd1.inBuckets(Seq(key), n, touched)), Some(touched))
      case _ => (read(table), None)
    }
  }

  /** Targeted DELETE (GDPR erasure, bad-batch retraction): remove the
    * rows matching `predicate`, keeping everything else — including
    * rows where the predicate is NULL (SQL DELETE semantics: only
    * TRUE deletes).
    *
    * On the bucketed layout this costs what it deletes, not what the
    * table holds — for ANY dir count: per dir, one scan finds the
    * buckets containing matching rows (driver result bounded by the
    * bucket count per dir), the rewrite and its input prune to those
    * buckets, untouched buckets hard-link byte-identically — and a dir
    * with NO matching row keeps its catalog entry verbatim, moving
    * zero bytes. A 100 TB append-only fact absorbs an erasure request
    * at the cost of the few (dir × bucket) cells the victim rows live
    * in. A match-less predicate writes nothing at all.
    *
    * Unbucketed tables — and bucketed tables carrying outstanding
    * deletion vectors, where the per-dir carry-over can't hold
    * tombstone identity across multiple rewritten dirs — fall back to
    * a filtered full overwrite (which also MATERIALIZES the DVs).
    */
  def deleteWhere(table: String, predicate: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce => cl, hash, lit => l, not, pmod}
    val keep = not(cl(predicate, l(false)))
    def touchedIn(df: DataFrame, key: String, n: Int): Array[Int] =
      df.filter(predicate)
        .select(pmod(hash(org.apache.spark.sql.functions.col(key)), l(n)).as("b"))
        .distinct().collect().map(_.getInt(0)).sorted
    wh.bucketSpec.get(table) match {
      case Some((key, n)) if currentDirs(table).length == 1 =>
        val cur = read(table)
        val touched = touchedIn(cur, key, n)
        if (touched.nonEmpty) {
          val inT = Scd1.inBuckets(Seq(key), n, touched.toIndexedSeq)
          overwriteBuckets(table, cur.filter(inT && keep), touched.toIndexedSeq)
        } // no matches: the table is already exact — write nothing
      case Some((key, n)) if currentDvDirs(table).isEmpty =>
        // multi-dir (the append-only fact shape): replace ONLY dirs
        // holding matching rows, each rewritten bucket-pruned
        val fields = wh.schemas(table).fieldNames.toIndexedSeq
        val newDirs = currentDirs(table).map { d =>
          val part = wh.readBucketedDir(table, d)
            .select(fields.map(org.apache.spark.sql.functions.col): _*)
          val touched = touchedIn(part, key, n)
          if (touched.isEmpty) d // untouched dir: zero bytes move
          else {
            val inT = Scd1.inBuckets(Seq(key), n, touched.toIndexedSeq)
            val dir = wh.writeDataFiles(table, align(table, part.filter(inT && keep)))
            wh.copyUntouchedBuckets(d, dir, touched.toSet)
            graft.sources.DataSkipping.writeSidecar(wh.spark, dir)
            dir
          }
        }
        if (newDirs != currentDirs(table)) pending(table) = newDirs
      case _ =>
        overwrite(table, read(table).filter(keep))
    }
  }

  /** LOGICAL delete — the O(deleted-rows) counterpart of
    * [[deleteWhere]]: rows matching `predicate` (TRUE only — NULL
    * keeps, SQL DELETE semantics) are tombstoned by (full file path,
    * row position) into a delete-sized DV dir; NO data file is read
    * back or rewritten beyond the one scan that finds the matches.
    * Every read entry point ([[Warehouse.read]], [[Txn.read]], time
    * travel, skip-scan, raw) applies the tombstones as a broadcast
    * anti-join; compaction and the next overwrite MATERIALIZE them.
    * The Delta/Iceberg merge-on-read trade: a 100 TB table absorbs a
    * point delete at the cost of writing the tombstones, paying a
    * delete-sized broadcast per read until maintenance folds it in.
    * Already-tombstoned rows never re-tombstone (the scan applies
    * outstanding DVs first), so repeated deletes stay delete-sized.
    * Returns the number of rows tombstoned.
    */
  def deleteVectored(table: String, predicate: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce => cl, lit => l}
    val dirs = currentDirs(table)
    if (dirs.isEmpty) return 0L
    val dvd = currentDvDirs(table)
    val withProv = wh.readWithProvenance(table, dirs)
    val alive = if (dvd.isEmpty) withProv else wh.applyDv(withProv, dvd)
    val tomb = alive.filter(cl(predicate, l(false)))
      .select(org.apache.spark.sql.functions.col(Warehouse.DvFile),
        org.apache.spark.sql.functions.col(Warehouse.DvPos))
    val dir = wh.newDataDir(Warehouse.dvKey(table))
    tomb.write.parquet(dir)
    val n = wh.spark.read.schema(Warehouse.dvSchema).parquet(dir).count()
    if (n == 0L) wh.deleteRecursively(Paths.get(dir))   // match-less: no-op
    else pending(Warehouse.dvKey(table)) = dvd :+ dir
    n
  }

  /** Append a batch (facts K8, report rows K10). No existing file is
    * touched — the new dir is referenced alongside the old ones.
    */
  def append(table: String, df: DataFrame): Unit = {
    val dir = wh.writeDataDir(table, align(table, df))
    pending.updateWith(table)(cur => Some(cur.getOrElse(snapshot.getOrElse(table, Nil)) :+ dir))
  }

  /** Append with COMMIT-TIME CONSTRAINTS: the batch is audited against
    * the declarative rules first and REJECTED (with per-rule counts,
    * table untouched) on any violation — the NOT NULL / CHECK /
    * UNIQUE / FK enforcement the reference's Postgres DDL provides
    * (`main.ddl` column constraints) and a parquet lake silently
    * loses. One aggregation pass over the BATCH plus an anti-join per
    * FK; a `Unique` rule checks the batch against ITSELF plus the
    * table's current image (cross-batch duplicates must reject too).
    */
  def appendChecked(table: String, df: DataFrame,
                    rules: Seq[graft.operators.DataQuality.Rule]): Unit = {
    import graft.operators.DataQuality
    val aligned = align(table, df)
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    val rowAndFk = rules.filterNot(_.isInstanceOf[DataQuality.Unique])
    if (rowAndFk.nonEmpty)
      DataQuality.audit(aligned, rowAndFk)
        .filter(org.apache.spark.sql.functions.col("n_violations") > 0)
        .collect().foreach(r => bad += s"${r.getString(0)}=${r.getLong(1)}")
    // batch-internal + batch-vs-table uniqueness, ONE pass per rule: a
    // source flag rides the union, so the same grouped aggregate yields
    // the violation count WITH the batch (over cnt) and WITHOUT it
    // (over the old-rows count) — the former two-job form scanned the
    // table image twice per rule. Pre-existing table duplicates are not
    // this batch's fault: reject only when the batch ADDS violations.
    rules.collect { case u: DataQuality.Unique => u }.foreach { u =>
      import org.apache.spark.sql.functions._
      val ucols = u.columns.map(col)
      val flagged = aligned.select(ucols: _*).withColumn("__new", lit(1L))
        .unionAll(read(table).select(ucols: _*).withColumn("__new", lit(0L)))
      val r = flagged.groupBy(ucols: _*)
        .agg(count(lit(1)).as("cnt"),
          sum(lit(1L) - col("__new")).as("old"))
        .agg(
          coalesce(sum(greatest(col("cnt") - 1, lit(0L))), lit(0L)).as("after"),
          coalesce(sum(greatest(col("old") - 1, lit(0L))), lit(0L)).as("before"))
        .head()
      val added = r.getLong(0) - r.getLong(1)
      if (added > 0) bad += s"${u.name}=$added"
    }
    if (bad.nonEmpty) {
      // diagnostic sample, HARD-BOUNDED by limit(): a fully-violating
      // 100 TB batch collects a handful of rows to the driver, never
      // the batch — the limit sits in the PLAN, upstream of collect
      val rowRules = rules.collect {
        case r @ (_: DataQuality.NotNull | _: DataQuality.Check) => r }
      val sample = if (rowRules.isEmpty) Array.empty[String] else
        DataQuality.quarantine(aligned, rowRules)
          .filter(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col("failed_rules")) > 0)
          .limit(Txn.ViolationSampleRows)
          .collect().map(_.toString)
      throw new IllegalArgumentException(
        s"append to '$table' rejected by constraints: ${bad.mkString(", ")}" +
          (if (sample.isEmpty) ""
           else s"; sample rows (up to ${Txn.ViolationSampleRows}): ${sample.mkString("; ")}"))
    }
    append(table, aligned)
  }

  /** Schema-fit before write. When the incoming frame already carries the
    * declared column names (in any order — Spark's using-column joins move
    * keys to the front), align BY NAME. Otherwise apply the reference's
    * staging contract (main.py:61-62): rename BY POSITION. Both paths
    * then cast to the declared types.
    */
  private def align(table: String, df: DataFrame): DataFrame = {
    val schema = wh.schemas(table)
    require(df.columns.length == schema.length,
      s"$table expects ${schema.length} columns, got ${df.columns.length}")
    val renamed =
      if (df.columns.toSet == schema.fieldNames.toSet) df
      else df.toDF(schema.fieldNames.toIndexedSeq: _*)
    renamed.select(schema.fields.toIndexedSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Atomic all-tables commit — the Spark counterpart of the single
    * `conn_edu.commit()` at main.py:472. After the O(1) catalog swap,
    * any written table whose dir count crossed the warehouse's
    * auto-compact threshold gets its oldest dirs merged (amortized
    * maintenance — runs of ordinary length never pay it).
    *
    * CONCURRENT WRITERS: the swap is a CAS-retry MERGE over the
    * current committed catalog — `cat ++ pending`, not
    * `snapshot ++ pending` — so two transactions committing DISJOINT
    * table sets both survive in any interleaving (the later commit
    * carries the earlier one's entries forward instead of resetting
    * them to its own begin-snapshot). A commit whose pending keys were
    * moved by another writer since `begin()` fails LOUDLY
    * (`ConcurrentModificationException`) rather than silently
    * clobbering — first-committer-wins OCC, the Delta/Iceberg
    * discipline. Conflict detection is per GUARD SET, not per pending
    * key alone: a table and its deletion-vector entry guard each
    * other, because a vectored delete names (file, position) pairs of
    * the data dirs it saw — committing an overwrite over a concurrent
    * delete (or vice versa) would silently resurrect the deleted rows
    * even though the two txns touched different catalog KEYS.
    * Cross-table read-write skew remains accepted (snapshot-isolation
    * class, not serializable), same as every file-format OCC.
    */
  def commit(): Unit = {
    require(!committed, "transaction already committed")
    val guarded: Set[String] = pending.keys.flatMap { k =>
      if (k.startsWith(Warehouse.DvPrefix))
        Seq(k, k.stripPrefix(Warehouse.DvPrefix))
      else Seq(k, Warehouse.dvKey(k))
    }.toSet
    var attempts = 0
    var done = false
    while (!done && attempts < 8) {
      val expected = wh.readCatalogRaw()
      val cat = wh.parseCatalogRaw(expected)
      val conflicts = guarded.filter(k =>
        cat.getOrElse(k, Nil) != snapshot.getOrElse(k, Nil))
      if (conflicts.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"commit conflict: ${conflicts.toSeq.sorted.mkString(", ")} " +
            "moved since this transaction began (first committer wins; " +
            "retry the transaction from a fresh begin())")
      done = wh.commitCatalogIf(expected, cat ++ pending.toMap)
      attempts += 1
    }
    if (!done)
      throw new java.util.ConcurrentModificationException(
        "commit contention: catalog kept moving under unrelated commits; retry")
    committed = true
    // the commit above is durable at this point: a compaction failure is a
    // maintenance problem (stale dir layout), never a commit failure
    pending.keys.foreach { t =>
      if (wh.catalog().getOrElse(t, Nil).length > wh.autoCompactThreshold)
        try {
          if (t.startsWith(Warehouse.DvPrefix)) wh.compactDvKey(t)
          else wh.compactOldest(t, keep = math.max(1, wh.autoCompactThreshold / 4))
        } catch {
          case e: Exception => System.err.println(
            s"[graft] post-commit compaction of '$t' failed (commit is durable): $e")
        }
    }
  }
}

object Txn {
  /** Max violating rows surfaced in a constraint-rejection message —
    * the driver-side bound on [[Txn.appendChecked]] diagnostics.
    */
  val ViolationSampleRows = 5
}

object Warehouse {
  /** Default [[Warehouse.vacuum]] grace: unreferenced dirs younger than
    * this may be an in-flight writer's not-yet-committed output.
    */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Per-root commit monitors: every Warehouse instance over the same
    * (normalized) root shares one, so in-process concurrent writers'
    * compare-and-swap is genuinely atomic (see [[Warehouse.commitCatalogIf]]).
    * The map only ever holds one small object per distinct warehouse
    * root opened by this JVM.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[etl] def commitLockFor(root: String): Object =
    commitLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** Default physical partitioning: fact tables by event date. Dims and
    * staging stay unpartitioned (full-snapshot semantics).
    */
  val defaultPartitions: Map[String, (String, Column)] = Map(
    "fact_transactions" -> ("trans_dt", to_date(col("trans_date"))),
    "rep_fraud" -> ("rep_dt", to_date(col("report_dt"))))

  /** Default bucketed layout: every SCD1 dim, bucketed by its merge key.
    * The count is the FIXED parallelism of the merge shuffle being
    * avoided — size it for the target cluster (a 100 TB dim wants
    * thousands), not the current data; resizing is a one-off rewrite.
    * 16 keeps test/bench file counts sane at local scale.
    */
  val defaultBuckets: Map[String, (String, Int)] =
    Schemas.dimKeys.map { case (t, k) => t -> (k, 16) } ++
      // the 100 TB fact table is bucketed by its dedup key ON TOP of its
      // date partitioning: the nightly append anti-join then reads every
      // fact dir as a bucketed scan and plans with ZERO fact-side
      // Exchange (Pipeline.appendFact), where an unbucketed layout
      // shuffles the full fact id set whenever the Bloom auto-sizer
      // declines (exactly the big-delta regime where it hurts most).
      // fact_blacklist stays unbucketed: dozens of rows, broadcast-sized.
      Map("fact_transactions" -> ("trans_id", 16))

  /** DELETION VECTORS: a table's outstanding tombstones live in
    * delete-sized parquet dirs under `data/_dv_<table>/` referenced by
    * the catalog key `_dv_<table>` — the same snapshot/commit/vacuum
    * machinery covers them (a DV becomes visible atomically with its
    * txn's commit; vacuum reclaims retired DV dirs; time travel sees
    * the DV set as of the version). Tombstone identity is the FULL
    * file path plus row position — basenames repeat across dirs
    * (hard-linked bucket carry-over, shallow clones), so a basename
    * key could suppress rows in a different dir's same-named file.
    */
  private[etl] val DvPrefix = "_dv_"
  private[etl] def dvKey(table: String): String = DvPrefix + table
  private[etl] val DvFile = "_graft_dv_file"
  private[etl] val DvPos = "_graft_dv_pos"
  private[etl] val dvSchema: StructType = StructType(Seq(
    StructField(DvFile, StringType, nullable = false),
    StructField(DvPos, LongType, nullable = false)))
}

/** Minimal JSON for `Map[String, Seq[String]]` — no external deps in the
  * offline build; keys and paths are engine-generated (no exotic chars
  * beyond what's escaped here).
  */
private[etl] object CatalogJson {
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(m: Map[String, Seq[String]]): String =
    m.toSeq.sortBy(_._1).map { case (k, vs) =>
      s""""${esc(k)}": [${vs.map(v => s""""${esc(v)}"""").mkString(", ")}]"""
    }.mkString("{\n  ", ",\n  ", "\n}")

  // Tolerant hand-rolled parser for exactly the shape `render` emits.
  def parse(s: String): Map[String, Seq[String]] = {
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\[([^\]]*)\]""".r
    val str = """"((?:[^"\\]|\\.)*)"""".r
    entry.findAllMatchIn(s).map { m =>
      val key = unesc(m.group(1))
      val vals = str.findAllMatchIn(m.group(2)).map(v => unesc(v.group(1))).toSeq
      key -> vals
    }.toMap
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
