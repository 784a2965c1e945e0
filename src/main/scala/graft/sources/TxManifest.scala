package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table atomic commit over [[Manifest]] tables — the lake analog
  * of the reference's multi-statement Postgres flow, where
  * `fetch_and_store` leaves `fetch_metadata` and `weather_observations`
  * mutually consistent (etl/load.py:61-118, etl/app.py:96-156): a
  * reader never observes the observations of a fetch whose ledger row
  * is missing, or vice versa.
  *
  * [[Manifest.commit]] is atomic PER TABLE; committing a ledger table
  * and an observations table as two independent manifests leaves a
  * window (crash between the two renames) where exactly one is
  * published — a torn state a database transaction cannot produce.
  * This layer closes it with one more level of the same trick the
  * per-table manifest already uses:
  *
  * {{{
  *   txRoot/
  *     _txlog/v<n>.json          -- {"table": version, ...} per tx
  *     <table>/_data/...         -- ordinary Manifest tables
  *     <table>/_manifests/...
  * }}}
  *
  * A transaction EXISTS iff its `_txlog/v<n>.json` exists, and that
  * file is published by one atomic no-overwrite rename. [[commit]]
  * first commits every table's DataFrame as that table's next Manifest
  * version (each individually atomic, none yet referenced), then
  * publishes the tx record binding {table → version} for ALL of them —
  * carrying forward the previous tx's pins for tables this tx did not
  * touch, so any tx describes a FULL consistent snapshot. Readers that
  * resolve through [[read]]/[[snapshot]] therefore see either every
  * table at its new version or every table at its old one; a crash
  * between table commits leaves orphan table versions that no tx
  * references (invisible, reclaimed by [[vacuum]] — NOT by plain
  * per-table [[Manifest.vacuum]], whose newest-K-by-number retention
  * would keep exactly those orphans and delete the tx-pinned
  * snapshot), exactly like a rolled-back transaction.
  *
  * Concurrency: the tx number is claimed through the [[VersionLog]]
  * protocol, like a table version. A losing writer re-merges its pins
  * onto the winner's and retries on the next number (its per-table
  * versions stay valid: table manifests are append-only). Concurrent
  * transactions over DISJOINT table sets merge cleanly (each retry
  * re-merges the other's pins); two transactions writing the SAME
  * table are last-published-wins at the tx level — the semantics of
  * the reference's own last UPDATE — so multi-writer pipelines should
  * partition table ownership or serialize commits externally.
  *
  * Scale shape: a tx record is a handful of (name, version) pairs —
  * commit cost is the tables' parquet writes plus N+1 renames; nothing
  * here grows with data volume.
  */
object TxManifest {
  import VersionLog.{Claim, fs}

  private def txDir(txRoot: String) = s"$txRoot/_txlog"

  private def tableRoot(txRoot: String, table: String) = s"$txRoot/$table"

  /** All published transactions, ascending (empty for a fresh root). */
  def txVersions(spark: SparkSession, txRoot: String): Seq[Long] =
    VersionLog.versions(spark, txDir(txRoot))

  def latestTx(spark: SparkSession, txRoot: String): Option[Long] =
    txVersions(spark, txRoot).lastOption

  /** The {table → manifest version} pins of transaction `tx`. */
  def tableVersions(spark: SparkSession, txRoot: String, tx: Long)
      : Map[String, Long] =
    VersionLog.tokens(VersionLog.body(spark, txDir(txRoot), tx, "transaction"))
      .grouped(2).map { case Seq(t, v) => t -> v.toLong }.toMap

  /** Atomically publish one snapshot spanning all of `tables`: commit
    * each DataFrame as its table's next [[Manifest]] version, then
    * publish a single tx record pinning every table — the new versions
    * become visible to tx readers all at once or not at all. Returns
    * the tx number. Table names become path segments under `txRoot`
    * and must match `[A-Za-z0-9._-]+` (not dots-only, not starting
    * with '_').
    *
    * `pinned` binds {table → ALREADY-COMMITTED manifest version} pairs
    * into the same transaction — for tables the caller committed
    * itself (e.g. via [[Manifest.commitAppend]]). They stay invisible
    * to tx readers until this tx record publishes, exactly like the
    * freshly committed ones. */
  def commit(spark: SparkSession, txRoot: String,
      tables: Map[String, DataFrame],
      pinned: Map[String, Long] = Map.empty): Long = {
    require(tables.nonEmpty || pinned.nonEmpty, "empty transaction")
    // names become path segments AND flat-JSON keys: restrict to a
    // safe charset (no separators, quotes, backslashes or control
    // chars — keeps tableRoot inside txRoot and the record parser
    // exact) and reject the '.'/'..' traversal names
    (tables.keys ++ pinned.keys).foreach { t =>
      require(t.matches("[A-Za-z0-9._-]+") && !t.matches("\\.+") &&
        !t.startsWith("_"),
        s"bad table name: '$t' (allowed: [A-Za-z0-9._-]+, not dots-only, " +
          "not starting with '_')")
    }
    // phase 1: per-table commits — individually atomic, invisible to tx
    // readers until phase 2 publishes the record that references them.
    // Sorted for a deterministic commit order (diagnosability, not
    // correctness).
    val committed = tables.toSeq.sortBy(_._1).map { case (t, df) =>
      t -> Manifest.commit(df, tableRoot(txRoot, t))
    }.toMap ++ pinned
    // phase 2: publish {latest tx's pins ++ this tx's tables}. Pins and
    // number come from the SAME resolution of the latest tx, so a tx
    // publishing in between makes our claim fail and we re-merge
    // against it on retry — never pair old pins with a newer number.
    VersionLog.publishNext(spark, txDir(txRoot), "tx commit") { last =>
      val prev = last.map(tableVersions(spark, txRoot, _))
        .getOrElse(Map.empty[String, Long])
      val body = (prev ++ committed).toSeq.sortBy(_._1)
        .map { case (t, v) => VersionLog.quote(t) + ":" + v }
        .mkString("{", ",", "}")
      Some(Claim(body))
    }
  }

  /** Read `table` at the snapshot of transaction `tx` (latest tx by
    * default) — the ONLY read path with cross-table consistency:
    * resolving the tx once and reading every table through it yields
    * the table states some single transaction published together. */
  def read(spark: SparkSession, txRoot: String, table: String,
      tx: Option[Long] = None): DataFrame = {
    val (n, pins) = resolve(spark, txRoot, tx)
    val v = pins.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' not in transaction $n at $txRoot"))
    Manifest.read(spark, tableRoot(txRoot, table), Some(v))
  }

  /** Tx-aware space reclamation — the ONLY safe vacuum for tx-managed
    * tables: retain the newest `keepTx` transaction records, then
    * shrink every table to EXACTLY the versions those records pin.
    *
    * Plain [[Manifest.vacuum]] retains the newest K versions BY
    * NUMBER; after a torn commit (phase-1 table versions committed,
    * tx record never published) the orphans ARE each table's newest
    * versions while the latest tx pins older ones — newest-K
    * retention deletes the pinned manifests (then their data dirs)
    * and destroys the committed snapshot every tx reader resolves.
    * Here retention follows the tx records instead: pinned versions
    * survive regardless of age, orphans (pre-history AND torn-commit
    * leftovers) are reclaimed regardless of recency. */
  def vacuum(spark: SparkSession, txRoot: String, keepTx: Int = 2): Unit = {
    require(keepTx >= 1)
    val f = fs(spark, txRoot)
    val txs = txVersions(spark, txRoot)
    require(txs.nonEmpty, s"no transactions at $txRoot")
    val kept = txs.takeRight(keepTx)
    // pins carry forward on commit, so the union over kept txs names
    // every live version of every table ever committed
    val retainByTable = kept.flatMap(tableVersions(spark, txRoot, _).toSeq)
      .groupBy(_._1).map { case (t, tv) => t -> tv.map(_._2).toSet }
    // retired tx records go FIRST (a tx stops existing the moment its
    // record is gone), then each table shrinks to its retained pins
    txs.dropRight(keepTx).foreach(v =>
      f.delete(new Path(txDir(txRoot), s"v$v.json"), false))
    retainByTable.foreach { case (t, retain) =>
      Manifest.vacuumTo(spark, tableRoot(txRoot, t), retain)
    }
  }

  /** All tables of one transaction, resolved together (latest by
    * default): the multi-table consistent-snapshot read. */
  def snapshot(spark: SparkSession, txRoot: String,
      tx: Option[Long] = None): Map[String, DataFrame] =
    resolve(spark, txRoot, tx)._2.map { case (t, v) =>
      t -> Manifest.read(spark, tableRoot(txRoot, t), Some(v))
    }

  /** Transaction `tx` (latest by default) and its pins. */
  private def resolve(spark: SparkSession, txRoot: String, tx: Option[Long])
      : (Long, Map[String, Long]) = {
    val n = tx.orElse(latestTx(spark, txRoot))
      .getOrElse(throw new IllegalArgumentException(
        s"no transactions at $txRoot"))
    (n, tableVersions(spark, txRoot, n))
  }
}
