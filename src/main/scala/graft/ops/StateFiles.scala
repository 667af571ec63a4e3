package graft.ops

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** The one crash protocol for graft's small state files: the sink
  * sidecars (`_graft_buckets`, `_graft_schema`, `_graft_bucket_cols`,
  * `_graft_last_batch`, `_graft_truncate`, `_graft_offset`), the B15
  * snapshot cursor and chunk-schema pin, the B16 signal state, the
  * writer epochs and lifecycle markers, the numbered event logs
  * (schema history, notifications, the signal file channel), and the
  * in-generation markers written inside a staged [[Generations]]
  * directory (novelty's `_compact_watermark` and `_folded_rets`, the
  * pair store's `_compact_watermark`, drift's `_compact_watermark` and
  * `_folded_ret`), which become visible only with their generation's
  * commit marker. Callers
  * keep their own names, formats, numbering and fencing; only the write
  * and read protocol lives here, so a fix here fixes every one of them.
  *
  * ==Filesystem contract==
  * Everything graft persists outside Spark's own job commit relies on
  * exactly three primitives:
  *  1. '''atomic create-exclusive''' — creating a file that must not
  *     exist either succeeds or fails because it exists; two racing
  *     creators never both succeed;
  *  2. '''atomic rename of a closed file to a free name''' — a reader
  *     sees the file under its old name or its new one, never a partial
  *     file under the new name;
  *  3. '''delete of a single file'''.
  *
  * HDFS provides all three. The local filesystem provides 2 and 3
  * (POSIX rename and unlink), and 1 through `O_EXCL` — which is why
  * [[createExclusive]] goes through the JDK on local paths: Hadoop's
  * local `create(overwrite = false)` checks existence and then opens,
  * so two racing creators can both succeed. S3A provides neither an
  * atomic create-exclusive nor a cheap rename (rename is a copy then a
  * delete), so graft's state roots must not live on S3A-class stores.
  *
  * ==Replace==
  * [[replace]] writes `<path>.tmp`, closes it, deletes `<path>`, then
  * renames the tmp into place; [[read]] parses the main file strictly
  * and falls back to the tmp, leniently, only when the main is missing.
  * Every crash point reads back a complete value:
  *  - during the tmp write: the old main wins; on a first write (no
  *    main) the torn tmp fails its parse and reads as absent;
  *  - after the close, before the delete: the old main wins;
  *  - after the delete, before the rename: the tmp is complete, and is
  *    the new value;
  *  - after the rename: the new value.
  * The main file only ever appears by renaming a closed tmp, so a main
  * that does not parse is real corruption and [[read]] throws.
  *
  * The directory sinks' bucket commit (the `write` and `finishCommit`
  * of `Sinks`' directory target) is the directory form of replace: the staged
  * `__kb=` dirs under `_graft_stage` are the tmp, the stage's
  * `_SUCCESS` says it is complete, and promoting a bucket deletes the
  * live dir and renames the staged one into place (primitive 2, applied
  * to a directory; delete is recursive). A complete stage with a
  * missing live bucket means the stage wins, so the next sink call
  * finishes the promotion; a stage without `_SUCCESS` is dropped.
  *
  * ==Claimed append==
  * [[claimAndWrite]] takes a name with [[createExclusive]] on a claim
  * file, then writes the body through [[replace]]. The claim makes the
  * writer unique, so the body's rename target is free; the claim is
  * never deleted here (a deleted claim could be re-claimed by a stale
  * appender and its body renamed over a landed one). A crash after the
  * claim burns the name — the next appender fails the claim and moves
  * on — and a torn body is only ever a `.tmp` that readers ignore.
  * [[appendNumbered]] is the `%010d.claim` / `%010d.json` log built on
  * it: a gap in the numbering, never a lost or overwritten entry.
  */
object StateFiles {

  private def tmpOf(path: Path): Path = path.suffix(".tmp")

  /** Replace `path`'s content with `bytes` (tmp, close, delete, rename). */
  def replace(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpOf(path)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new IOException(s"could not rename $tmp into place at $path")
  }

  /** The value at `path`: the main file parsed strictly, else the `.tmp`
    * read leniently (a torn tmp — unparseable, or failing its checksum —
    * reads as absent), else None. `parse` gets the file's UTF-8 text,
    * trimmed, and must reject a torn value.
    */
  def read[T](fs: FileSystem, path: Path)(parse: String => T): Option[T] =
    text(fs, path).map(parse)
      .orElse(scala.util.Try(text(fs, tmpOf(path)).map(parse)).toOption.flatten)

  private def text(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Atomically create the empty file `path` (and its parent dirs).
    * False when it already exists — a rival holds it. Any other failure
    * throws: a claim loop must never read a broken path as "taken".
    */
  def createExclusive(fs: FileSystem, path: Path): Boolean = {
    val local = fs match {
      case l: LocalFileSystem    => Some(l.pathToFile(path))
      case r: RawLocalFileSystem => Some(r.pathToFile(path))
      case _                     => None
    }
    local match {
      case Some(f) =>
        java.nio.file.Files.createDirectories(f.toPath.getParent)
        try { java.nio.file.Files.createFile(f.toPath); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case None =>
        // Hadoop also raises FileAlreadyExists for a FILE squatting on a
        // parent dir: only an existing `path` is a rival's
        try { fs.create(path, false).close(); true }
        catch { case e: FileAlreadyExistsException => if (fs.exists(path)) false else throw e }
    }
  }

  /** Claim `claim` exclusively, then write `bytes` to `path` through
    * [[replace]]. False (nothing written) when a rival holds the claim.
    */
  def claimAndWrite(fs: FileSystem, claim: Path, path: Path)
                   (bytes: => Array[Byte]): Boolean =
    createExclusive(fs, claim) && { replace(fs, path, bytes); true }

  /** Append one entry to the numbered log in `dir`, trying numbers from
    * `from` upward until a claim succeeds; returns the number landed.
    * `body` renders the entry for its number.
    */
  def appendNumbered(fs: FileSystem, dir: Path, from: Long)
                    (body: Long => Array[Byte]): Long = {
    var seq = from
    while (!claimAndWrite(fs, new Path(dir, f"$seq%010d.claim"),
        new Path(dir, f"$seq%010d.json"))(body(seq)))
      seq += 1
    seq
  }
}
