package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Build-parameter manifest persisted next to every stored index —
  * the refuse-loudly answer to the silent-divergence class the index
  * scaladocs used to delegate to the caller ("sep/minLineLen: the
  * schema records neither — persist them next to the index path").
  * A probe against an index built with different parameters (another
  * sep, another bucket count, other hash counts) does not fail: it
  * silently under- or over-matches. Recording `{family, params}` at
  * write time and checking them at probe time turns that class into
  * an explicit error — the same single-definition rule the shared
  * segmentation/banding front ends enforce one level down.
  *
  * Format: one `_GRAFT_META` text file at the index root (the `_`
  * prefix hides it from parquet partition discovery, like `_base` and
  * `_CURRENT`), line one `family=<name>`, then one URL-encoded
  * `key=value` per line, sorted — engine-portable and diffable.
  */
case class IndexMeta(family: String, params: Map[String, String]) {
  /** A build parameter the store at `root` must record — refuses
    * loudly, naming the store and the key, when the manifest lacks it
    * (a compaction fold cannot guess HLL's `p` or bottom-k's `k`). */
  def param(key: String, root: String): String =
    params.getOrElse(key, sys.error(
      s"$family store $root: manifest lacks build parameter '$key'"))

  private[operators] def render: String =
    (s"family=${IndexMeta.enc(family)}" +:
      params.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${IndexMeta.enc(k)}=${IndexMeta.enc(v)}"
      }).mkString("\n")
}

object IndexMeta {
  private[graft] val FileName = "_GRAFT_META"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  def apply(family: String, params: (String, Any)*): IndexMeta =
    IndexMeta(family, params.map { case (k, v) => k -> v.toString }.toMap)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Write (overwrite) the manifest — called by every index writer at
    * build time. Write-to-temp + rename so concurrent readers only
    * ever see a complete file. */
  def write(spark: SparkSession, root: String, meta: IndexMeta): Unit = {
    val dir = new Path(root)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(meta.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, FileName)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish $dst")
  }

  /** Publish the manifest only if none exists — the per-batch hook of
    * the streaming sinks (first batch records, later batches no-op; an
    * existing manifest is checked, not clobbered). ATOMIC: the
    * candidate is written to a uniquely-named temp and renamed WITHOUT
    * delete-first, and a Hadoop `FileSystem.rename` onto an existing
    * destination fails — so of N concurrent first activations exactly
    * one manifest can ever win. The plain exists-then-[[write]] race
    * would let two first writers both observe "absent" and clobber
    * each other last-writer-wins — fatal when the manifest carries
    * DERIVED state (the cert_vec frozen pivots: epochs banded under
    * the clobbered geometry go silently inconsistent with every later
    * probe). Losers (and every later batch) must CHECK the surviving
    * manifest, not assume their own candidate won — this returns
    * whether THIS call published, so the caller knows to re-read.
    *
    * Local-filesystem caveat: POSIX rename REPLACES an existing
    * destination (HDFS-class filesystems refuse), so "won" is decided
    * by reading the surviving content back, not by the rename's return
    * value — on any filesystem, the caller's view of who won matches
    * what is actually on disk at that read. The unclosable residue
    * (two first writers interleaving rename + read-back on a replacing
    * filesystem) only narrows the window; every later manifest READ
    * (probes/appends re-read per call) still sees one single surviving
    * manifest, so derived state stays consistent with it.
    *
    * @return true iff this call's manifest is the one on disk */
  def writeIfAbsent(spark: SparkSession, root: String,
                    meta: IndexMeta): Boolean = {
    val dir = new Path(root)
    val fs = fsOf(spark, dir)
    val dst = new Path(dir, FileName)
    if (fs.exists(dst)) return false
    fs.mkdirs(dir)
    val tmp = new Path(dir,
      s".$FileName.${java.util.UUID.randomUUID().toString}.tmp")
    val out = fs.create(tmp, false)
    try out.write(meta.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // a concurrent winner may have published between the exists check
    // and here — renaming over it would clobber; re-check, then decide
    // the race by surviving CONTENT (exact on replacing filesystems)
    if (fs.exists(dst)) { fs.delete(tmp, false); return false }
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); return false }
    read(spark, root).exists(_.render == meta.render)
  }

  def read(spark: SparkSession, root: String): Option[IndexMeta] = {
    val f = new Path(root, FileName)
    val fs = fsOf(spark, f)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
      val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty)
      val kv = lines.map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"malformed $FileName line at $root: '$l'")
        dec(l.take(i)) -> dec(l.drop(i + 1))
      }.toMap
      Some(IndexMeta(kv.getOrElse("family",
        sys.error(s"$FileName at $root has no family line")),
        kv - "family"))
    }
  }

  /** Refuse loudly unless the stored manifest matches what the caller
    * is about to probe with. A MISSING manifest also refuses: every
    * writer in this engine records one, so absence means the path is
    * wrong or the index predates manifests — rebuild it (or write the
    * manifest by hand) rather than probe on faith. */
  def check(spark: SparkSession, root: String, expected: IndexMeta): Unit =
    read(spark, root) match {
      case None =>
        throw new IllegalStateException(
          s"index at $root has no _GRAFT_META manifest — cannot verify " +
            s"build parameters (expected ${expected.family} " +
            s"${expected.params}). Rebuild with a writer that records " +
            "them, or write the manifest manually if the parameters are " +
            "known out of band")
      case Some(actual) =>
        require(actual.family == expected.family,
          s"index family mismatch at $root: stored '${actual.family}', " +
            s"probe expects '${expected.family}' — wrong index path?")
        val diffs = (expected.params.keySet ++ actual.params.keySet).toSeq
          .sorted.flatMap { k =>
            (actual.params.get(k), expected.params.get(k)) match {
              case (Some(a), Some(e)) if a == e => None
              case (a, e) => Some(
                s"$k: stored ${a.getOrElse("<absent>")}, " +
                  s"probe ${e.getOrElse("<absent>")}")
            }
          }
        require(diffs.isEmpty,
          s"index build parameters at $root do not match the probe's — " +
            s"probing would silently diverge. ${diffs.mkString("; ")}")
    }
}
