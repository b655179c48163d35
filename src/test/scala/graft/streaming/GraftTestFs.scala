package graft.streaming

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}

/** A local filesystem registered under the NON-`file:` scheme `graftfs`
  * — the test double that forces [[VersionedSnapshot]]'s HDFS-shaped
  * branches, which `file:` paths can never reach: `tryCreateNew`'s
  * `createNewFile` (server-side create-if-absent, atomic here as on
  * HDFS) instead of NIO O_EXCL, and `atomicOverwrite`'s FileContext
  * rename-with-OVERWRITE instead of the NIO ATOMIC_MOVE. Raw local
  * underneath (no checksum sidecars — like HDFS, where checksums are
  * internal), so the semantics match what the non-`file:` code paths
  * are written for. */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  // RawLocal's createNewFile is check-then-act, so two claimants could
  // both win; HDFS's create-if-absent is atomic on the NameNode. An
  // O_EXCL NIO create restores that, as in EtagCasTestFileSystem.
  override def createNewFile(p: Path): Boolean = {
    val lp = java.nio.file.Paths.get(p.toUri.getPath)
    java.nio.file.Files.createDirectories(lp.getParent)
    try { java.nio.file.Files.createFile(lp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }
}

/** The AbstractFileSystem face of [[GraftTestFileSystem]] — what
  * `FileContext.getFileContext(uri, conf)` resolves through
  * `fs.AbstractFileSystem.graftfs.impl` (the same delegation shape
  * Hadoop's own RawLocalFs uses for `file:`). */
class GraftTestAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new GraftTestFileSystem, conf, "graftfs", false)
