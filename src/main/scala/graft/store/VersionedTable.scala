package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.EngineSession
import org.apache.spark.sql.types.StructType

import graft.ext.AtomicSink

/** The one commit protocol for PATH tables the engine rewrites in
  * place: the throttle-state and scheduler-state tables and the CDX
  * range layout. (Single files commit through [[AtomicSink]], catalog
  * tables through [[Bucketing.replaceTable]].)
  *
  * The table decides how a version is written: the two state tables
  * write theirs from the driver as one file ([[SharedRoot.append]]),
  * and the CDX layout with Spark jobs (`df.write`). A version is
  * complete when the callback returns, whichever way it was written.
  *
  * Layout: `<dir>/v=N` holds complete versions and `<dir>/_current`
  * names the published one. [[publish]] writes a complete `v=N`, then
  * swaps the pointer with [[AtomicSink.writeCommitted]] (an atomic
  * rename), then sweeps. So after a crash or a failed write at any
  * point, readers resolve either the old version or the new one, never
  * neither: a `v=N` the pointer does not name is never read, and the
  * next publish numbers past it and deletes it.
  *
  * The sweep keys on the POINTER, not on version numbers: it keeps the
  * new version, the previously published one (a reader that resolved
  * the pointer just before the swap keeps a consistent table for one
  * whole publish cycle) and whatever the caller's keep-set names;
  * every other `v=N` is deleted, unpublished partials included.
  * Sweeping "all but the two highest numbers" would instead delete the
  * version readers resolve while keeping a crashed partial.
  *
  * A directory with no pointer is a layout written before versioning
  * and reads as it is; its files are never swept. */
object VersionedTable {

  private val Pointer = "_current"

  /** The published root of `dir`: `<dir>/v=N` when `_current` names a
    * version; `dir` itself when there is no pointer but there are
    * unversioned data files (the pre-versioning layout); None when the
    * directory is missing or holds nothing a reader could load (only
    * unpublished `v=N` partials, or an empty directory). */
  def current(spark: SparkSession, dir: String): Option[String] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(EngineSession.hadoopConf(spark))
    published(fs, base).map(v => s"$dir/v=$v").orElse {
      val flat = fs.exists(base) && fs.listStatus(base).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("v=") && !n.startsWith("_") && !n.startsWith(".")
      }
      if (flat) Some(dir) else None
    }
  }

  /** [[current]] loaded as a parquet table with the `schema` it was
    * written with, or None. Giving the schema skips parquet's schema
    * inference, a Spark job per read. A pre-versioning root is read
    * through its own top-level files only, so a `v=N` that a crashed
    * first publish left beside them is never picked up. */
  def read(spark: SparkSession, dir: String, schema: StructType): Option[DataFrame] =
    current(spark, dir).map(root =>
      spark.read.schema(schema).parquet(if (root == dir) s"$dir/*.parquet" else root))

  /** Write a complete new version with `write(root)`, publish it, and
    * sweep. `keep(root)` names further versions a published root still
    * references (CdxStore's incremental refresh reuses block files of
    * older versions); it is applied to the new root and to the
    * previously published one. If `write` throws, the pointer is not
    * touched and the exception propagates. Publishers of one `dir`
    * must not run concurrently. Returns the published root. */
  def publish(spark: SparkSession, dir: String,
      keep: String => Set[Long] = _ => Set.empty)(write: String => Unit): String = {
    val base = new Path(dir)
    val fs = base.getFileSystem(EngineSession.hadoopConf(spark))
    // read BEFORE publishing: the sweep keeps what readers resolve now
    val prev = published(fs, base)
    val existing = versions(fs, base)
    val next = existing.foldLeft(-1L)(_ max _) + 1
    val root = s"$dir/v=$next"
    write(root)
    AtomicSink.writeCommitted(fs, new Path(base, Pointer), attemptId = next) { tmp =>
      val out = fs.create(tmp, true)
      try out.write(s"v=$next".getBytes(UTF_8)) finally out.close()
    }
    val kept = (Set(next) ++ prev) ++ keep(root) ++
      prev.toSet.flatMap((p: Long) => keep(s"$dir/v=$p"))
    existing.filterNot(kept).foreach(v => fs.delete(new Path(base, s"v=$v"), true))
    root
  }

  /** One publish of a table: the root `_current` names and the pointer
    * file's modification time. A directory deleted and re-created
    * numbers its versions from `v=0` again, so a root alone can name
    * two different publishes; the rewritten pointer's modification time
    * tells them apart. (Its length would not: the pointer always holds
    * `v=N`, so the length follows from the root.) */
  final case class Stamp(root: String, pointerModifiedMs: Long)

  /** The [[Stamp]] of the version readers of `dir` resolve now, from
    * filesystem calls only (no Spark job); None when no pointer names a
    * version, or when the pointer changed while it was being read. */
  def stamp(spark: SparkSession, dir: String): Option[Stamp] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(EngineSession.hadoopConf(spark))
    val cur = new Path(base, Pointer)
    def status =
      try Some(fs.getFileStatus(cur).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    for {
      before <- status
      v <- published(fs, base)
      after <- status if after == before
    } yield Stamp(s"$dir/v=$v", after)
  }

  /** Versions present on disk, published or not. */
  private def versions(fs: FileSystem, base: Path): Seq[Long] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)

  /** The version `_current` names, if any. */
  private def published(fs: FileSystem, base: Path): Option[Long] = {
    val cur = new Path(base, Pointer)
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      val v = try new String(in.readAllBytes(), UTF_8).trim finally in.close()
      scala.util.Try(v.stripPrefix("v=").toLong).toOption
    }
  }
}
