package graft.sources

import java.io.{IOException, OutputStream}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The one way the engine replaces a file or a table in place: the
  * keyed upsert, the XLSX exports, the running sketch tables, the
  * stream landings and the persisted index's sidecar files (watermark,
  * compaction manifest, corpus stamp, stream identity, knob manifest).
  *
  * Files are written to a temp sibling and renamed over the
  * destination only after the writer closed cleanly. A failed or
  * aborted write (an over-cap XLSX export, a task retry mid-zip, a
  * crash mid-body) therefore never replaces a good file with a torn
  * one: the destination is either the old bytes or the new ones. That
  * matters for user-facing artifacts a downstream may be watching by
  * mtime (the S3 newest-file pattern) and for every sidecar a later
  * start trusts, because a guard that reads a half-written stamp or
  * watermark would adopt or skip the wrong state.
  *
  * The destination is never missing either. A delete-then-rename
  * leaves a window with no file, and an absent stream-identity stamp is
  * exactly the state its guard refuses to adopt against a positive
  * watermark. Hadoop's `FileSystem.rename` onto an existing file
  * replaces it atomically on the local filesystem (POSIX `rename`) but
  * refuses on HDFS, where `FileContext` rename with
  * [[Options.Rename.OVERWRITE]] is the atomic form. The local
  * `FileContext` only emulates OVERWRITE (it deletes the destination,
  * then renames), so [[file]] tries the plain rename first and falls
  * back to the `FileContext` one.
  *
  * A directory cannot be renamed over a non-empty one, so a table swap
  * ([[table]]) keeps delete-then-rename: the target is missing for a
  * moment, and its callers check that it exists before reading it.
  *
  * Sidecars are read by [[read]], which returns None for an absent file
  * and lets an `IOException` propagate, so each caller keeps its own
  * rule for an unreadable one.
  */
object Publish {

  /** Write `dest` through `write` into a hidden temp sibling unique to
    * this call, then rename it over `dest`. If `write` (or the rename)
    * throws, the temp is dropped and `dest` is left as it was. Needs
    * only `fs`, so it runs inside `foreachPartition` too.
    */
  def file(fs: FileSystem, dest: Path)(write: OutputStream => Unit): Unit = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    var done = false
    try {
      val out = fs.create(tmp, true) // creates parent dirs on any scheme
      try write(out) finally out.close()
      if (!fs.rename(tmp, dest))
        FileContext.getFileContext(dest.toUri, fs.getConf)
          .rename(tmp, dest, Options.Rename.OVERWRITE)
      done = true
    } finally if (!done) fs.delete(tmp, false)
  }

  /** [[file]] with a UTF-8 body. */
  def file(fs: FileSystem, dest: Path, body: String): Unit =
    file(fs, dest)(_.write(body.getBytes("UTF-8")))

  /** Swap the table staged at `staging` in as `target`: drop the old
    * table, rename the staged directory in, throw if the rename fails.
    */
  def table(fs: FileSystem, staging: Path, target: Path): Unit = {
    if (fs.exists(target)) fs.delete(target, true)
    move(fs, staging, target)
  }

  /** Rename `src` to `dst`, or throw. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"rename $src -> $dst failed")

  /** Move every `part-*` file of the write staged at `staging` into
    * `landing` as `<prefix>_<name>`, then drop the staging directory.
    */
  def parts(fs: FileSystem, staging: Path, landing: Path,
      prefix: String): Unit = {
    fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .foreach(p => move(fs, p, new Path(landing, s"${prefix}_${p.getName}")))
    fs.delete(staging, true)
  }

  /** The UTF-8 body of the small file at `path`, or None when it does
    * not exist. An unreadable file throws.
    */
  def read(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** Delete `path`. "Already gone" is success (a concurrent healer may
    * have removed it first); a failed delete is an error only if the
    * path still exists.
    */
  def remove(fs: FileSystem, path: Path, recursive: Boolean): Unit =
    if (fs.exists(path) && !fs.delete(path, recursive))
      require(!fs.exists(path), s"delete failed: $path")
}
