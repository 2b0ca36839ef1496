package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

import graft.etl.Upsert

/** Versioned (time-travel) parquet tables — the lakehouse snapshot
  * model in its minimal honest form: data lives in per-partition,
  * per-version directories and every table version is a MANIFEST
  * mapping each logical partition to the data version that last
  * rewrote it. A commit writes ONLY the partitions it touches and a
  * new manifest that points every untouched partition at its existing
  * files — old versions stay readable forever (until expired), and
  * readers of version N never see version N+1's files.
  *
  * Layout:
  * {{{
  *   table/data/<part>=<v>/__dv=<k>/part-*.parquet  // immutable once written
  *   table/_manifests/v<k>.json                     // {"<part>=<v>": dataVersion}
  *   table/_manifests/schema_dv<k>.json             // data-file schema of data version k (StructType JSON)
  * }}}
  *
  * The data-version level is itself a key=value directory (`__dv=k`)
  * so Spark's partition discovery stays consistent — readers drop the
  * synthetic `__dv` column.
  *
  * Scale notes: the manifest is partition-count-sized (driver-safe —
  * the same bound hive metastores live with); a commit's IO is the
  * touched partitions only (the [[graft.etl.Upsert.upsertPartitioned]]
  * cost model); reads prune to the manifest's file list and recover
  * the partition column via basePath.
  *
  * == Concurrency: optimistic, never a lost update ==
  *
  * A real lakehouse table gets CONCURRENT committers, so commits are
  * optimistic-concurrency transactions (the Delta/Iceberg protocol
  * shape, here in its minimal form):
  *
  *  1. '''claim''' a writer-unique data-version token `k` by atomic
  *     create-no-overwrite of `_manifests/dv<k>.claim` — two writers
  *     can therefore never write into the same `__dv=<k>` leaves, so
  *     in-flight data never collides (data versions are DECOUPLED
  *     from manifest versions; nothing ever required them equal);
  *  2. write data under `__dv=<k>` and the data schema to
  *     `_manifests/schema_dv<k>.json` — both writer-exclusive by the
  *     claim;
  *  3. '''publish''' manifest `v(current+1)` by atomic
  *     create-no-overwrite — the one and only commit point. Losing
  *     the race means some other writer published that version first:
  *     re-read the WINNER's manifest, recompute the merge against it
  *     (the staged merge was computed against a stale base), and
  *     retry; after `maxRetries` rebases, abort with
  *     [[ConcurrentCommitException]] — the published chain is
  *     untouched either way, so the outcome is always "both commits
  *     survive, serialized" or "one aborts cleanly", never a lost
  *     update (VersionedSpec races two real committers).
  *
  * A crash at any point leaves the previous version intact: claimed
  * tokens, data dirs and schema files without a manifest pointer are
  * garbage collected by [[vacuum]], never corruption. Vacuum itself
  * must not run concurrently with writers (it would collect a live
  * claim's data as orphans) — retention is an exclusive maintenance
  * window, the standard lakehouse contract.
  */
/** A commit lost the manifest race `maxRetries + 1` times. The
  * published version chain is untouched; the aborted attempt's data
  * is unreferenced garbage for [[Versioned.vacuum]]. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

object Versioned {

  /** Reserved manifest key recording which data version the commit
    * that published this manifest wrote — NOT a partition entry.
    * Schema resolution needs it: under interleaved commits the
    * largest dv in a manifest can belong to an EARLIER version (a
    * rebased writer publishes later with a smaller token), and the
    * correct read schema is always the committing writer's. */
  private[graft] val CommitDvKey = "__commit_dv"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, v: Int) =
    new Path(s"$table/_manifests/v$v.json")

  /** Schema of the data files a claimed data version wrote — keyed by
    * the writer-unique token, so racing writers never clobber each
    * other's schema the way a version-keyed file would. */
  private def schemaDvPath(table: String, dv: Int) =
    new Path(s"$table/_manifests/schema_dv$dv.json")

  private[store] def claimPath(table: String, dv: Int) =
    new Path(s"$table/_manifests/dv$dv.claim")

  /** Atomic create-no-overwrite — the CAS primitive under both the
    * claim and the publish. Hadoop's LocalFileSystem implements
    * `create(p, overwrite = false)` as check-then-create (not
    * atomic), so the local scheme goes through NIO `CREATE_NEW`
    * (O_EXCL — atomic on POSIX); remote filesystems use the
    * documented atomic `create(path, false)` contract. Returns false
    * iff the path already existed. */
  private[store] def tryCreateExclusive(f: org.apache.hadoop.fs.FileSystem,
                                        p: Path, bytes: Array[Byte]): Boolean =
    if (f.getScheme == "file") {
      try {
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(nio.getParent)
        val out = java.nio.file.Files.newOutputStream(nio,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = f.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("exist") => false
      }
    }

  /** Claim the next free data-version token at or above `start` —
    * after this returns, `__dv=<k>` and `schema_dv<k>` belong to this
    * writer alone. Probes are contiguous, so uncontended sequential
    * commits get 1, 2, 3… (the layout VersionedSpec pins). */
  private def claimDataVersion(f: org.apache.hadoop.fs.FileSystem,
                               table: String, start: Int): Int = {
    var k = start
    while (!tryCreateExclusive(f, claimPath(table, k), Array.emptyByteArray)) {
      k += 1
      require(k - start < 1000000, s"claim probe runaway at $table (dv $k)")
    }
    k
  }

  /** Latest committed version, 0 if none. */
  def currentVersion(spark: SparkSession, table: String): Int = {
    val dir = new Path(s"$table/_manifests")
    val f = fs(spark, table)
    if (!f.exists(dir)) 0
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  /** One row of the commit log — see [[history]]. */
  final case class Commit(version: Int, committedAtMs: Long,
                          nPartitions: Int, partitions: Seq[String])

  /** DESCRIBE HISTORY for the versioned table: every published
    * version, its publish instant, and the logical partitions its
    * manifest references — newest first. The publish instant is the
    * manifest file's modification time: the manifest IS the atomic
    * publish (CAS create), so its mtime is exactly when the version
    * became visible. Metadata-only (one directory listing + one small
    * read per version), no data files touched — at any table size
    * this is O(versions). Clock caveat, stated not hidden: mtimes
    * come from the filesystem and a badly skewed writer clock shifts
    * [[readAsOf]]'s mapping; version numbers stay the source of
    * truth for exact audits. */
  def history(spark: SparkSession, table: String): Seq[Commit] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/_manifests")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".json") &&
          n.stripPrefix("v").stripSuffix(".json").forall(_.isDigit)
      }
      .map { st =>
        val v = st.getPath.getName.stripPrefix("v").stripSuffix(".json").toInt
        val parts = (readManifest(spark, table, v) - CommitDvKey).keys.toSeq.sorted
        Commit(v, st.getModificationTime, parts.size, parts)
      }
      .sortBy(-_.version)
  }

  /** Timestamp time travel: read the newest version PUBLISHED at or
    * before `asOfMs` (epoch millis) — the "what did the table say
    * when the training job started" query, resolved through
    * [[history]]'s manifest mtimes. Throws if the table has no
    * version that old (reading a table before its first commit has no
    * meaningful answer). Version-number travel ([[readVersion]])
    * remains the exact, clock-independent form. */
  def readAsOf(spark: SparkSession, table: String, asOfMs: Long): DataFrame = {
    val candidates = history(spark, table).filter(_.committedAtMs <= asOfMs)
    require(candidates.nonEmpty,
      s"no version of $table existed at epoch-ms $asOfMs " +
        s"(earliest: ${history(spark, table).lastOption.map(_.committedAtMs)})")
    readVersion(spark, table, candidates.head.version)
  }

  /** Partition-dir name for a logical partition value — the SAME
    * Hive-escaping `partitionBy` applies when laying out directories
    * (space survives; '=', '%', ':', '/', quotes, control chars →
    * %XX), so manifest keys always equal the on-disk dir names and a
    * value like "a:b" commits AND reads back. Escaped names contain no
    * '"', '\' or control chars, which is what makes the naive JSON
    * renderer below exact (VersionedSpec holds a ScalaCheck property
    * over this). Null/empty values are rejected at commit: a NULL
    * partition key in a versioned table is a modeling error, not a
    * layout problem. */
  private[store] def partitionDirName(col: String, value: String): String = {
    require(value != null && value.nonEmpty,
      s"versioned tables require non-null, non-empty '$col' partition values")
    s"$col=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)}"
  }

  /** Flat JSON object {"partition": version}; keys are partition-dir
    * names ("month=1998-01"). Sorted for reproducible bytes. */
  private[store] def renderManifest(m: Map[String, Int]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")

  private[store] def parseManifest(s: String): Map[String, Int] =
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toInt).toMap

  def readManifest(spark: SparkSession, table: String, v: Int): Map[String, Int] = {
    val p = manifestPath(table, v)
    val f = fs(spark, table)
    require(f.exists(p), s"no manifest for version $v at $p")
    parseManifest(readUtf8(f, p))
  }

  private def readUtf8(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toByteArray
    } finally in.close()
    new String(bytes, StandardCharsets.UTF_8)
  }

  /** What a staged attempt will publish: the full new content of the
    * touched partitions, plus the touched partition dirs that ended up
    * EMPTY and must leave the manifest (delete commits can empty or
    * drop a partition; merge/replace commits never do). */
  private final case class Staged(content: DataFrame, dropDirs: Seq[String])

  /** Commit `df` as the next table version, rewriting ONLY the
    * `partitionCol` partitions present in `df`. MERGE semantics per
    * touched partition against the previous version on `keys` (pass
    * `keys = Nil` for whole-partition replacement). Returns the new
    * version number.
    *
    * Safe under concurrent committers (see the class doc): losing the
    * publish race rebases on the winner's version and retries; after
    * `maxRetries` rebases it throws [[ConcurrentCommitException]]
    * with the published chain untouched. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
             partitionCol: String, keys: Seq[String],
             maxRetries: Int = 5,
             writeOptions: Map[String, String] = Map.empty): Int = {
    val touched = touchedPartitions(df, partitionCol)
    commitStaged(spark, table, partitionCol, touched, maxRetries,
        writeOptions) { prev =>
      val merged = if (prev > 0 && keys.nonEmpty) {
        val touchedPrev = readVersion(spark, table, prev)
          .filter(col(partitionCol).cast("string").isInCollection(touched))
        // A MERGE commit aligns the staging frame to the previous
        // version's schema; a column the target doesn't have would be
        // silently DROPPED by the alignment select, so reject it loudly.
        // Additive schema evolution goes through whole-partition commits
        // (keys = Nil): the new version's persisted schema carries the
        // new column and untouched partitions' older files read it back
        // as NULL (VersionedSpec pins this).
        val unknown = df.columns.filterNot(touchedPrev.columns.toSet)
        require(unknown.isEmpty,
          s"MERGE commit would drop columns not in the target schema: " +
            s"${unknown.mkString(", ")}; evolve the schema with a " +
            "whole-partition commit (keys = Nil) first")
        Upsert.upsert(touchedPrev, df.select(touchedPrev.columns.map(col): _*), keys)
      } else df
      Staged(merged, Nil)
    }
  }

  /** Row-level DELETE as a first-class versioned commit — the third
    * verb of the MERGE model (GDPR-style removal): every
    * (`keys`, partition) tuple present in `tombstones` is removed
    * from the next version. Partition-bounded by construction: only
    * the `partitionCol` values in `tombstones` are rewritten (each as
    * prev-rows anti-join tombstones), every other partition's files
    * are untouched manifest pointers — and time travel to pre-delete
    * versions keeps reading the old files (q112/q113 pin both
    * halves). A tombstone deletes in ITS OWN partition only; to erase
    * a key everywhere, tombstone every partition it lives in.
    *
    * `keys = Nil` drops the touched partitions WHOLE (partition-level
    * retention): their entries leave the manifest, and a version that
    * deletes every partition reads back as the empty-version error. A
    * partition whose rows are all deleted likewise leaves the
    * manifest rather than pointing at a dir the write never created.
    *
    * Same optimistic-concurrency contract as [[commit]]. NOTE: the
    * physical bytes of deleted rows remain in OLD versions' files (the
    * point of time travel) until [[vacuum]] expires those versions —
    * a compliance erasure is deleteCommit + vacuum. */
  def deleteCommit(spark: SparkSession, table: String, tombstones: DataFrame,
                   partitionCol: String, keys: Seq[String],
                   maxRetries: Int = 5): Int = {
    val touched = touchedPartitions(tombstones, partitionCol)
    require(touched.nonEmpty, "no tombstones: nothing to delete")
    val touchedDirs = touched.map(pv => partitionDirName(partitionCol, pv))
    commitStaged(spark, table, partitionCol, touched, maxRetries,
        Map.empty) { prev =>
      require(prev > 0, "cannot delete from an empty versioned table")
      val touchedPrev = readVersion(spark, table, prev)
        .filter(col(partitionCol).cast("string").isInCollection(touched))
      if (keys.isEmpty) Staged(touchedPrev.limit(0), touchedDirs)
      else {
        val missing = (keys :+ partitionCol).filterNot(tombstones.columns.toSet)
        require(missing.isEmpty,
          s"tombstones lack columns: ${missing.mkString(", ")}")
        val tomb = tombstones.select(
          keys.map(col) :+ col(partitionCol).cast("string").as(partitionCol): _*)
        val remaining = touchedPrev.join(tomb, keys :+ partitionCol, "left_anti")
        // partitions the delete emptied: manifest entries to drop, not
        // dangling pointers. Bounded by |touched| — a tiny collect.
        val survivors = remaining
          .select(col(partitionCol)).distinct().collect()
          .map(r => partitionDirName(partitionCol, r.getString(0))).toSet
        Staged(remaining, touchedDirs.filterNot(survivors))
      }
    }
  }

  /** Touched logical partitions of a staging/tombstone frame: a tiny
    * distinct (partition-universe scale), validated BEFORE sorting
    * (null poisons String ordering) and before any data is written,
    * so a bad partition value aborts with zero IO. */
  private def touchedPartitions(df: DataFrame, partitionCol: String): Seq[String] = {
    val raw = df.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    require(raw.forall(v => v != null && v.nonEmpty),
      s"versioned tables require non-null, non-empty '$partitionCol' partition values")
    raw.sorted.toSeq
  }

  /** The optimistic-concurrency commit loop shared by [[commit]] and
    * [[deleteCommit]]: claim a data-version token, stage content
    * against the current version, publish by CAS, rebase on loss.
    * `stage` runs per attempt with the base version — rebasing
    * recomputes it against the winner. */
  /** `writeOptions` reach the parquet writer of the staged-slice data
    * files (e.g. [[Store.bloomFilterOptions]] for point-lookup keys);
    * they shape file internals only — manifests, schema JSON, and the
    * CAS protocol are untouched, and versions written with different
    * options coexist (options are a per-file footer concern). */
  private def commitStaged(spark: SparkSession, table: String,
                           partitionCol: String, touched: Seq[String],
                           maxRetries: Int,
                           writeOptions: Map[String, String])
                          (stage: Int => Staged): Int = {
    val f = fs(spark, table)
    val touchedDirs = touched.map(pv => partitionDirName(partitionCol, pv))
    var dv = 0 // claimed on the first attempt, REUSED on rebase (still
               // writer-unique; the rewrite dynamically overwrites its
               // own leaves with the recomputed merge)
    var attempt = 0
    while (true) {
      val prev = currentVersion(spark, table)
      val next = prev + 1
      val prevManifest =
        if (prev == 0) Map.empty[String, Int]
        else readManifest(spark, table, prev) - CommitDvKey
      if (dv == 0) {
        // First free token above every version and every token any
        // manifest references (legacy tables used dv == version and
        // have no claim files) and every outstanding claim.
        val mDir = new Path(s"$table/_manifests")
        val claimed =
          if (!f.exists(mDir)) Seq.empty[Int]
          else f.listStatus(mDir).map(_.getPath.getName).toSeq
            .collect { case n if n.startsWith("dv") && n.endsWith(".claim") =>
              n.stripPrefix("dv").stripSuffix(".claim").toInt }
        val start = ((prev +: prevManifest.values.toSeq) ++ claimed).max + 1
        dv = claimDataVersion(f, table, start)
      }
      val Staged(merged, dropDirs) = stage(prev)
      // ONE dynamic-partition job writes every touched partition:
      // partitionBy(partitionCol, __dv) lays files out exactly as
      // data/<part>=<v>/__dv=<dv>/part-*.parquet. Dynamic overwrite
      // touches only the (partition, __dv=dv) leaves present in the
      // DataFrame — other versions' directories are untouched, and a
      // retried or rebased commit (same claimed dv, no manifest yet)
      // replaces its own partial leaves instead of appending
      // duplicates. A per-partition write loop here would run one
      // Spark job — re-executing the whole merge plan — per partition
      // (~hundreds of sequential jobs for a month-partitioned table).
      merged
        .withColumn(partitionCol, col(partitionCol).cast("string"))
        .withColumn("__dv", lit(dv))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .options(writeOptions)
        .partitionBy(partitionCol, "__dv")
        .parquet(s"$table/data")
      // Persist the DATA-FILE schema (non-partition columns) next to
      // the manifest BEFORE publication: readers then reconstruct the
      // full read schema from driver-side JSON — zero parquet-footer
      // reads at plan construction, and the partition column type is
      // pinned rather than re-inferred per read. Keyed by the claimed
      // token (writer-exclusive), overwrite for crashed/rebased
      // re-runs of the same claim.
      val dataSchema = org.apache.spark.sql.types.StructType(
        merged.schema.filterNot(f => f.name == partitionCol))
      val out = f.create(schemaDvPath(table, dv), true)
      try out.write(dataSchema.json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // THE commit point: atomic create-no-overwrite of the manifest.
      val manifest = (prevManifest -- dropDirs) ++
        touchedDirs.filterNot(dropDirs.toSet).map(_ -> dv) +
        (CommitDvKey -> dv)
      if (tryCreateExclusive(f, manifestPath(table, next),
          renderManifest(manifest).getBytes(StandardCharsets.UTF_8)))
        return next
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentCommitException(
          s"lost the manifest race for $table v$next $attempt times; " +
            s"aborting — published versions are untouched, claimed data " +
            s"version $dv is unreferenced garbage for vacuum")
      // else: rebase on the winner's version and retry
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read table contents as of version `v` — exactly the files that
    * version's manifest points to; later commits are invisible. The
    * partition column is recovered from the directory names via
    * basePath.
    *
    * Fanout bound: every manifest partition becomes one input dir, so
    * plan construction is O(partitions) listing — the same bound a
    * hive metastore's partition enumeration lives with. Above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * Spark distributes the listing as a job, so wall-clock scales with
    * partitions/parallelism. Measured (round 8, local[4], warm FS,
    * `VersionedProbe`): ~3-5 s at 10^3 dirs; 27.5 s at 10^4 dirs with
    * this explicit-schema path (the old inference path took 54.5 s on
    * the same table — the persisted-schema read also halves plan
    * construction). Linear in dirs as predicted, the edge of
    * interactive at 10^4; construction itself is footer-free (schema
    * comes from the persisted JSON). Beyond ~10^5 partitions the
    * right fix is a coarser partitioning, not a smarter reader.
    * VersionedSpec pins the 10^3 steady-state case. */
  /** What [[vacuum]] did: which versions survive, which manifests were
    * expired, and how many unreferenced `<part>/__dv=<k>` leaf
    * directories were deleted. */
  final case class VacuumStats(retained: Seq[Int], expired: Seq[Int],
                               deletedLeafDirs: Int)

  /** Retention: keep the newest `keepVersions` table versions and
    * delete everything else — expired manifests (+ their schema
    * files) and every `data/<part>/__dv=<k>` leaf directory no
    * retained manifest references. Because a commit rewrites only
    * touched partitions, an old data version stays live as long as ANY
    * retained manifest still points at it, so vacuum never breaks a
    * retained version: the reclaimable set is exactly the leaves all
    * retained manifests have moved past. Orphan leaves from crashed
    * commits (data written, manifest never published) are unreferenced
    * by construction and are collected too, along with their claim
    * tokens and schema files — vacuum runs in an exclusive maintenance
    * window (no concurrent writers; see the class doc), so at vacuum
    * time an unreferenced leaf is garbage, never an in-flight commit.
    *
    * Cost: O(partitions × live data versions) driver-side listing —
    * the same partition-enumeration bound [[readVersion]]'s plan
    * construction and every hive metastore lives with. Deletes are
    * O(reclaimed leaves). Beyond ~10^5 partitions the listing should
    * ride a distributed job (the parallelPartitionDiscovery precedent);
    * at that scale the right fix is a coarser partitioning. */
  def vacuum(spark: SparkSession, table: String,
             keepVersions: Int): VacuumStats = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, table)
    val mDir = new Path(s"$table/_manifests")
    if (!f.exists(mDir)) return VacuumStats(Nil, Nil, 0)
    val versions = f.listStatus(mDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted.toSeq
    val retained = versions.takeRight(keepVersions)
    val expired = versions.dropRight(keepVersions)
    // Union of (partition dir, data version) pairs any retained
    // manifest still points at — manifest-sized, driver-safe.
    val retainedManifests = retained.map(v => readManifest(spark, table, v))
    val referenced: Set[(String, Int)] = retainedManifests
      .flatMap(m => (m - CommitDvKey).map { case (part, dv) => (part, dv) })
      .toSet
    // Data versions any retained manifest references or committed —
    // their claim + schema bookkeeping stays; everything else (expired
    // or crashed/aborted commits) is reclaimed below.
    val referencedDvs: Set[Int] =
      referenced.map(_._2) ++ retainedManifests.flatMap(_.get(CommitDvKey))
    val dataDir = new Path(s"$table/data")
    var deleted = 0
    if (f.exists(dataDir)) {
      for (partStatus <- f.listStatus(dataDir)
           if partStatus.isDirectory && partStatus.getPath.getName.contains("=")) {
        val partName = partStatus.getPath.getName
        val leaves = f.listStatus(partStatus.getPath).filter(s =>
          s.isDirectory && s.getPath.getName.startsWith("__dv="))
        for (leaf <- leaves) {
          val dv = leaf.getPath.getName.stripPrefix("__dv=").toInt
          if (!referenced.contains((partName, dv))) {
            f.delete(leaf.getPath, true)
            deleted += 1
          }
        }
        // A partition every retained manifest has dropped (or that was
        // only ever orphan data) ends up empty — remove the husk so
        // future partition listings don't pay for it.
        if (f.listStatus(partStatus.getPath).isEmpty)
          f.delete(partStatus.getPath, false)
      }
    }
    for (v <- expired) f.delete(manifestPath(table, v), false)
    // Token bookkeeping for data versions nothing retained points at:
    // expired history and crashed/aborted commits alike.
    for (s <- f.listStatus(mDir); n = s.getPath.getName) {
      val orphanClaim = n.startsWith("dv") && n.endsWith(".claim") &&
        !referencedDvs.contains(n.stripPrefix("dv").stripSuffix(".claim").toInt)
      val orphanSchema = n.startsWith("schema_dv") && n.endsWith(".json") &&
        !referencedDvs.contains(n.stripPrefix("schema_dv").stripSuffix(".json").toInt)
      if (orphanClaim || orphanSchema) f.delete(s.getPath, false)
    }
    VacuumStats(retained, expired, deleted)
  }

  def readVersion(spark: SparkSession, table: String, v: Int): DataFrame = {
    val raw = readManifest(spark, table, v)
    val commitDv = raw.get(CommitDvKey)
    val manifest = raw - CommitDvKey
    require(manifest.nonEmpty, s"version $v is empty")
    val sorted = manifest.toSeq.sortBy(_._1)
    val dirs = sorted.map { case (part, dv) => s"$table/data/$part/__dv=$dv" }
    // Partition values must come back as the exact strings commit()
    // wrote. Left to directory-name TYPE INFERENCE, numeric-looking
    // values coerce ("0042" -> int 42, "1e3" -> double 1000.0); cast
    // back to string they no longer equal the logical value, so the
    // merge path's touched-partition filter matches nothing and a
    // MERGE commit silently REPLACES the partition. The read therefore
    // gets an explicit schema — the data-file schema the committing
    // writer persisted under its token (exact under interleaved commits
    // — see CommitDvKey) — plus the partition columns pinned to
    // (string, int), because user-specified partition types disable
    // inference and keep the (unescaped) dir value verbatim. Side
    // benefit: construction does zero parquet-footer IO.
    val partCol = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(sorted.head._1.takeWhile(_ != '='))
    val f = fs(spark, table)
    val sp = commitDv.map(schemaDvPath(table, _)).filter(f.exists).getOrElse(
      throw new IllegalStateException(s"$table version $v has no data schema: " +
        commitDv.fold(s"its manifest lacks $CommitDvKey")(dv =>
          s"${schemaDvPath(table, dv)} is missing")))
    val dataSchema = org.apache.spark.sql.types.DataType.fromJson(readUtf8(f, sp))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val full = dataSchema
      .add(StructField(partCol, StringType, nullable = false))
      .add(StructField("__dv", IntegerType, nullable = false))
    spark.read.schema(full).option("basePath", s"$table/data").parquet(dirs: _*)
      .drop("__dv")
  }
}
