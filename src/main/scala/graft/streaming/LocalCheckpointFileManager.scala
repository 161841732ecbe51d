package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
import java.nio.file.{FileAlreadyExistsException => NioFileExists}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Checkpoint file manager that writes and publishes a local file with
  * java.nio instead of Hadoop's local `FileContext`.
  *
  * Without the native Hadoop library, the local `FileContext` forks a
  * `chmod` when it creates a file and `readlink` when it renames one.
  * A micro-batch writes three such logs on its blocking path (offsets,
  * the file source's log, commits); in a traced perfbench `gps_ingest`
  * run on a 4-core host the offsets-log write took 40 ms through the
  * `FileContext` and 1 ms through this class.
  *
  * The protocol is the parent's: write a temp file next to the target,
  * then publish it atomically. Without overwrite the temp file is
  * hard-linked to the target and then deleted, so an existing target
  * fails the link and surfaces as Hadoop's `FileAlreadyExistsException`
  * — `HDFSMetadataLog`'s guard against a second query writing the same
  * checkpoint. With overwrite the temp file is renamed over the target
  * (`ATOMIC_MOVE`). Nothing is fsynced, as on the parent's local path.
  *
  * Files written here carry no `.crc` sidecar; a checkpoint written by
  * the default manager still reads (`open` goes through the parent,
  * which checks a sidecar only where one exists), and a target's stale
  * sidecar is removed before an overwrite publishes over it.
  *
  * Non-local paths, and local file systems without hard links or atomic
  * renames, keep the parent's behaviour. `Pipeline.start` installs this
  * class through `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = isLocal

  private def nio(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(nio(p))), null)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (nio(src), nio(dst))
      // a sidecar the default manager left would not match the new content
      if (overwriteIfPossible) Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      val published =
        try {
          if (overwriteIfPossible) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
          else Files.createLink(to, from)
          true
        } catch {
          case e: NioFileExists =>
            Files.deleteIfExists(from)
            throw new FileAlreadyExistsException(s"$dst already exists (${e.getMessage})")
          case _: UnsupportedOperationException | _: FileSystemException => false
        }
      if (!published) super.renameTempFile(src, dst, overwriteIfPossible)
      else if (!overwriteIfPossible) Files.delete(from)
    }
}
