package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, LocalFileSystem, Options, Path}

/** The one commit of every small committed file: the `_LATEST` and
  * `.ptr_<table>` pointers, reader pins, the `_GRAFT_META` catalog
  * sidecar, the lattice manifest and the lifecycle `Success.csv` /
  * `Failed.csv`. [[write]] lands the text in a hidden `.<name>.tmp`
  * sibling and commits it with ONE rename that replaces the old file: a
  * reader sees the old file or the new one, never a missing or
  * truncated one, and a crash before the rename leaves only the hidden
  * tmp file, which the next write overwrites.
  *
  * On the local filesystem the rename is one POSIX rename (NIO
  * `ATOMIC_MOVE`): `FileContext`'s OVERWRITE rename runs there as a
  * delete and then a rename, a window in which a reader finds no file.
  * The text is written without a `.crc` sibling and the old sibling is
  * removed before the rename, so a checksumming reader never pairs new
  * bytes with a stale checksum (a file without one reads unverified).
  * Elsewhere the commit is `FileContext.rename` with `Rename.OVERWRITE`
  * (`FileSystem.rename` cannot replace a file), atomic on HDFS-like
  * filesystems; an object store would use a conditional put of the same
  * key. */
object AtomicFile {

  /** Commit `text` (UTF-8) as the whole content of `path`; the tmp
    * create makes any missing parent dirs. */
  def write(conf: Configuration, path: String, text: String): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    val p = fs.makeQualified(new Path(path))
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    fs match {
      case local: LocalFileSystem =>
        val raw = local.getRawFileSystem
        val out = raw.create(tmp, true)
        try out.write(text.getBytes(UTF_8)) finally out.close()
        raw.delete(local.getChecksumFile(p), false)
        Files.move(local.pathToFile(tmp).toPath, local.pathToFile(p).toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      case _ =>
        val out = fs.create(tmp, true)
        try out.write(text.getBytes(UTF_8)) finally out.close()
        FileContext.getFileContext(p.toUri, conf)
          .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** The committed UTF-8 text of `path`, or None if no file is there. */
  def read(conf: Configuration, path: String): Option[String] = {
    val p = new Path(path)
    try {
      val in = p.getFileSystem(conf).open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }
}
