package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal manifest-based table format: versioned snapshots with
  * ATOMIC commits and time travel over plain parquet — the
  * transactional skin a silver lake table needs once writers and
  * readers overlap (the reference's Postgres tables get this from the
  * database for free; a directory of parquet files does not).
  *
  * Layout under a table root:
  * {{{
  *   _data/<version>-<uuid>/part-*.parquet   -- immutable data files
  *   _manifests/v<version>.json              -- file list per version
  * }}}
  *
  * Correctness comes from two properties, not from locking:
  *  - data files are write-once (each commit writes to a fresh
  *    directory, never touching previous versions' files);
  *  - a version EXISTS iff its manifest file exists, and manifests are
  *    published through the [[VersionLog]] claim protocol (atomic
  *    no-overwrite rename, retry on a lost race) — readers either see
  *    a complete version or none of it, never a partial file list.
  *    [[VersionLog]] also states which filesystems qualify.
  *
  * Readers resolve `latestVersion` once and then read a CONSISTENT
  * snapshot regardless of concurrent commits — the reason dashboards
  * over a live silver table need this layer at all. Old versions stay
  * readable (time travel — [[graft.ops.Reconcile.snapshotDiff]] /
  * `changeFeed` between two versions of the same table composes
  * directly) until [[vacuum]] retires them.
  *
  * Scale shape: the manifest holds file PATHS (thousands), never rows;
  * commit cost is the parquet write + one rename; version resolution
  * is one directory listing.
  */
object Manifest {
  import VersionLog.{Claim, fs}

  private def manifestDir(root: String) = s"$root/_manifests"

  private def newUuid(): String = java.util.UUID.randomUUID().toString.take(8)

  /** All committed versions, ascending (empty for a fresh root). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    VersionLog.versions(spark, manifestDir(root))

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Commit `df` as the next version of the table; returns the version
    * committed. Each attempt writes `df` to a fresh `_data/<v>-<uuid>`
    * directory, which a lost claim deletes before retrying. */
  def commit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val uuid = newUuid()
    VersionLog.publishNext(spark, manifestDir(root), "manifest commit") { latest =>
      val dataDir = s"$root/_data/${latest.getOrElse(-1L) + 1L}-$uuid"
      df.write.mode("errorifexists").parquet(dataDir)
      Some(written(f, dataDir))
    }
  }

  /** Commit `df` as an APPEND: the next version references every file
    * of the current version PLUS the newly written ones — the right
    * shape for an append-only log (the fetch ledger), where
    * [[commit]]'s full rewrite would copy the whole history every
    * batch. The new files are written ONCE (they are version-agnostic);
    * only the manifest publish retries on a version race, re-reading
    * the winner's file list so no concurrent append is lost. A fresh
    * root appends onto the empty file list (version 0). */
  def commitAppend(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val dataDir = s"$root/_data/app-${newUuid()}"
    df.write.mode("errorifexists").parquet(dataDir)
    val newFiles = listParquet(f, new Path(dataDir))
    try VersionLog.publishNext(spark, manifestDir(root), "append commit") { latest =>
      val prev = latest.map(manifestFiles(spark, root, _)).getOrElse(Seq.empty)
      Some(Claim(fileList((prev ++ newFiles).sorted)))
    } catch {
      case e: IllegalStateException => f.delete(new Path(dataDir), true); throw e
    }
  }

  /** Transactional OPTIMIZE: rewrite the CURRENT snapshot's physical
    * layout (same rows, better files) and commit the rewrite as the
    * NEXT version — the missing atomicity between [[graft.sources.Layout]]
    * and this format. A reader concurrent with the optimize resolves
    * either the old manifest or the new one, never a half-compacted
    * directory (data dirs are write-once and versions exist iff their
    * manifest does — same two properties every commit rests on).
    *
    * Optimistic concurrency does the data-loss-prevention work: each
    * attempt re-resolves the LATEST version and rewrites THAT
    * snapshot's files. If an ordinary data commit wins the version
    * race, the optimize discards the stale rewrite and re-runs against
    * the new snapshot — a concurrent commit can never be silently
    * replaced by a compacted copy of an older version (spec-proven via
    * a staged race).
    *
    * `rewrite(files, outDir)` writes the snapshot (given as its parquet
    * file list) into `outDir`; it must neither read nor touch anything
    * else under the root. */
  def optimize(spark: SparkSession, root: String)(
      rewrite: (Seq[String], String) => Unit): Long = {
    val f = fs(spark, root)
    val uuid = newUuid()
    VersionLog.publishNext(spark, manifestDir(root), "optimize") { latest =>
      val v = latest.getOrElse(
        throw new IllegalArgumentException(s"no versions to optimize at $root"))
      val dataDir = s"$root/_data/${v + 1L}-$uuid"
      rewrite(manifestFiles(spark, root, v), dataDir)
      Some(written(f, dataDir))
    }
  }

  /** Transactional DELETE — the lake-side analog of the SQL DELETE the
    * reference gets from Postgres for free, and the primitive a
    * right-to-be-forgotten request needs against a parquet table.
    *
    * COPY-ON-WRITE at file granularity: one predicate-pushed scan finds
    * the files that actually CONTAIN matching rows (parquet row-group
    * stats prune the rest — for a selective predicate most files are
    * never opened); only those files are rewritten without their
    * matching rows, and every untouched file carries into the next
    * version's manifest BY REFERENCE — a delete of one user from a
    * million-file table rewrites a handful of files, not the table.
    *
    * SQL DELETE null semantics: rows where the predicate evaluates
    * NULL are KEPT (only predicate-TRUE rows go).
    *
    * Optimistic concurrency, same as [[optimize]]: each attempt
    * re-resolves the LATEST version and re-applies the predicate to
    * THAT snapshot, so a delete racing an ordinary commit converges on
    * "new snapshot minus matching rows" — matching rows added by the
    * concurrent commit are re-found on retry, never resurrected. The
    * touched-file list is manifest-sized (a bounded driver collect by
    * the same contract as the manifest itself). Returns the committed
    * version, or the CURRENT version untouched when nothing matches
    * (no empty no-op commits). */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, not}
    val f = fs(spark, root)
    val uuid = newUuid()
    def norm(p: String): String = new Path(p).toUri.getPath
    VersionLog.publishNext(spark, manifestDir(root), "deleteWhere") { latest =>
      val v = latest.getOrElse(
        throw new IllegalArgumentException(s"no versions to delete at $root"))
      val files = manifestFiles(spark, root, v)
      val touched = spark.read.parquet(files: _*)
        .filter(predicate)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
      if (touched.isEmpty) None
      else {
        val (rewrite, keep) = files.partition(p => touched(norm(p)))
        val dataDir = s"$root/_data/${v + 1L}-$uuid"
        spark.read.parquet(rewrite: _*)
          .filter(not(coalesce(predicate, lit(false))))
          .write.mode("errorifexists").parquet(dataDir)
        Some(written(f, dataDir, carried = keep))
      }
    }
  }

  /** [[optimize]] with [[Layout.compactFiles]] as the rewrite: atomic
    * small-file compaction (one ~targetBytes file per bin). */
  def optimizeCompact(spark: SparkSession, root: String, targetBytes: Long,
      lanes: Int = 32): Long =
    optimize(spark, root) { (files, out) =>
      val f = fs(spark, root)
      val sized = files.map(p => (p, f.getFileStatus(new Path(p)).getLen))
      Layout.compactFiles(spark, sized, out, targetBytes, lanes)
      ()
    }

  /** Recursively list the parquet files under `dir`, sorted. */
  private def listParquet(f: FileSystem, dir: Path): Seq[String] = {
    val it = f.listFiles(dir, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) out += s.getPath.toString
    }
    out.result().sorted
  }

  /** The claim for a version made of `carried` files plus the parquet
    * files written under `dataDir`; a lost claim deletes `dataDir`. */
  private def written(f: FileSystem, dataDir: String,
      carried: Seq[String] = Seq.empty): Claim = {
    val dir = new Path(dataDir)
    Claim(fileList((carried ++ listParquet(f, dir)).sorted), () => f.delete(dir, true))
  }

  /** A manifest body: the version's files as a JSON string array. */
  private def fileList(files: Seq[String]): String =
    files.map(VersionLog.quote).mkString("[", ",", "]")

  private def manifestFiles(spark: SparkSession, root: String, v: Long)
      : Seq[String] =
    VersionLog.tokens(VersionLog.body(spark, manifestDir(root), v, "version"))

  /** Read a committed snapshot: the latest by default, or any retained
    * `version` (time travel). The file list is resolved ONCE, so the
    * read is consistent under concurrent commits. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no versions at $root"))
    spark.read.parquet(manifestFiles(spark, root, v): _*)
  }

  /** Retire all but the newest `keep` versions: manifests first (a
    * version stops existing the moment its manifest is gone), then any
    * data directory no surviving manifest references.
    *
    * NOT for tables under a [[TxManifest]] root: newest-K-by-number
    * retention can destroy the tx-pinned snapshot — after a torn tx
    * (phase-1 table versions committed, tx record never published) the
    * ORPHANS are the newest versions while the latest tx pins an older
    * one, so keeping the newest K deletes exactly the version every tx
    * reader resolves. Tx-managed tables are reclaimed by
    * [[TxManifest.vacuum]], which retains what retained tx records pin. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    require(keep >= 1)
    vacuumTo(spark, root, versions(spark, root).takeRight(keep).toSet)
  }

  /** Retire every version NOT in `retain` (manifests first, then
    * unreferenced data directories). The primitive under [[vacuum]]
    * (newest-K policy) and [[TxManifest.vacuum]] (pinned-by-tx
    * policy). */
  def vacuumTo(spark: SparkSession, root: String, retain: Set[Long]): Unit = {
    require(retain.nonEmpty, "refusing to vacuum every version away")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(retain.subsetOf(vs.toSet),
      s"retain set names versions that do not exist at $root: " +
        s"${retain -- vs.toSet}")
    val dead = vs.filterNot(retain)
    dead.foreach(v => f.delete(new Path(manifestDir(root), s"v$v.json"), false))
    // a file's owning version directory is the path segment directly
    // under _data — NOT the immediate parent, which for an optimized
    // (compacted) version is a bin=<n> partition subdirectory
    def versionDir(p: Path): String = {
      var cur = p
      while (cur.getParent != null && cur.getParent.getName != "_data")
        cur = cur.getParent
      cur.getName
    }
    val live = vs.filter(retain)
      .flatMap(v => manifestFiles(spark, root, v))
      .map(p => versionDir(new Path(p))).toSet
    val dataRoot = new Path(s"$root/_data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).toSeq.map(_.getPath)
        .filterNot(p => live.contains(p.getName))
        .foreach(p => f.delete(p, true))
  }
}
