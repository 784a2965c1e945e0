package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The version-claim protocol every publisher in the lake goes through:
  * [[Manifest]]'s per-table manifests (`<table>/_manifests`) and
  * [[TxManifest]]'s transaction records (`<txRoot>/_txlog`) are both
  * a directory of `v<n>.json` bodies, and both claim the next `n` the
  * same way.
  *
  * A version EXISTS iff `v<n>.json` exists. [[publishNext]] claims
  * `n = latest + 1` by writing the body to a hidden temp name
  * (`.tmp-<n>-<uuid>.json`, never listed as a version) and renaming it
  * onto `v<n>.json` with no-overwrite semantics, so readers see a
  * complete body or none, never a partial one. A writer that loses the
  * rename to a concurrent publisher deletes its temp file, undoes the
  * attempt's side effects, and retries on the next number with a body
  * recomputed from the winner; after [[Retries]] lost retries it gives
  * up with an `IllegalStateException`.
  *
  * CONCURRENCY SCOPE: the race is decided by the filesystem's
  * no-overwrite rename (rename fails when the destination exists —
  * HDFS and POSIX local filesystems guarantee this, and LakeSpec
  * asserts it). Plain object-store PUTs do NOT qualify: S3 PUT (and
  * S3A's copy-based rename) is last-writer-wins, so two concurrent
  * publishers could both claim a version and one would be silently
  * lost. On such stores this protocol needs a conditional-put
  * primitive (`If-None-Match: *`) or an external lock/commit service
  * standing in for the rename; single-writer pipelines are safe
  * everywhere (readers only ever need body-read atomicity, which every
  * store provides).
  *
  * Bodies are flat JSON written by this layer: a string array (a
  * manifest's file list) or a string → integer object (a tx record's
  * pins). [[quote]] writes the strings and [[tokens]] reads them back.
  *
  * Cost: resolving the latest version is one directory listing; a
  * publish is one temp create plus one rename per attempt.
  */
private[graft] object VersionLog {

  /** Lost claims one publish retries after before giving up. */
  val Retries = 5

  /** One attempt's body to publish, and how to undo that attempt's
    * side effects (its data files) when the claim is lost. */
  final case class Claim(body: String, discard: () => Unit = () => ())

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every published version under `dir`, ascending (empty when `dir`
    * does not exist yet). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val d = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted
  }

  /** The body of version `v` under `dir`; `noun` names the version kind
    * in the missing-version error. */
  def body(spark: SparkSession, dir: String, v: Long, noun: String): String = {
    val p = new Path(dir, s"v$v.json")
    val f = fs(spark, dir)
    require(f.exists(p), s"no $noun $v at ${owner(dir)}")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Claim the next version under `dir`. `attempt(latest)` sees the
    * latest published version and returns the body to publish, or None
    * when there is nothing to commit (then the latest version, or -1
    * for none, is returned unpublished). Returns the version claimed;
    * `what` names the publisher in the give-up error. */
  def publishNext(spark: SparkSession, dir: String, what: String)(
      attempt: Option[Long] => Option[Claim]): Long = {
    val f = fs(spark, dir)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    var lost = 0
    while (true) {
      val latest = versions(spark, dir).lastOption
      val n = latest.getOrElse(-1L) + 1L
      attempt(latest) match {
        case None => return latest.getOrElse(-1L)
        case Some(claim) =>
          val tmp = new Path(dir, s".tmp-$n-$uuid.json")
          f.mkdirs(tmp.getParent)
          val out = f.create(tmp, false)
          out.write(claim.body.getBytes("UTF-8")); out.close()
          if (f.rename(tmp, new Path(dir, s"v$n.json"))) return n
          f.delete(tmp, false)
          claim.discard()
          lost += 1
          if (lost > Retries)
            throw new IllegalStateException(
              s"$what lost $Retries races at ${owner(dir)}")
      }
    }
    -1L // unreachable
  }

  /** `s` as a JSON string literal (the only escapes bodies need). */
  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The strings and bare numbers of a flat JSON body, in order.
    * Quote-aware and escape-aware: a comma, colon or quote inside a
    * string stays part of it. */
  def tokens(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < body.length) {
      val c = body(i)
      if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (body(i) != '"') {
          if (body(i) == '\\') { sb.append(body(i + 1)); i += 2 }
          else { sb.append(body(i)); i += 1 }
        }
        out += sb.toString
        i += 1
      } else if (c == '-' || c.isDigit) {
        val start = i
        i += 1
        while (i < body.length && body(i).isDigit) i += 1
        out += body.substring(start, i)
      } else i += 1
    }
    out.result()
  }

  /** The table root or tx root a log directory belongs to. */
  private def owner(dir: String): String = dir.take(dir.lastIndexOf('/'))
}
