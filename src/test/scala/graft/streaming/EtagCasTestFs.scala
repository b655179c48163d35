package graft.streaming

import java.net.URI

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.Options.CreateFileOptionKeys.{FS_OPTION_CREATE_CONDITIONAL_OVERWRITE, FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG}

/** Class-name double of what S3A raises when a conditional PUT fails its
  * `If-Match` at close() — [[VersionedSnapshot.EtagPointerStore]]'s
  * failure mapping matches the cause chain by this simple name, so the
  * certification exercises that branch verbatim. */
class RemoteFileChangedException(path: String, msg: String)
  extends PathIOException(path, msg)

/** Local FileSystem double of an etag-exposing object store (scheme
  * `etagfs`) — what certifies [[VersionedSnapshot.EtagPointerStore]]
  * without a live S3/ABFS endpoint. The doubled semantics are exactly
  * the store-side half of HADOOP-19256's conditional-write contract:
  *
  *  - the filesystem reports `ETAGS_AVAILABLE` for every path, which is
  *    what makes a table on it flip through etag-cas;
  *  - every file's `FileStatus` is an [[EtagSource]] whose etag is the
  *    md5 of the content — S3's simple-PUT etag semantics, so a
  *    successful flip always changes the etag (pointer content is a
  *    monotonically-growing version number, never repeated);
  *  - `createFile(...).must(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG,
  *    etag)` buffers the upload and gates the final PUT at close():
  *    mismatch → [[RemoteFileChangedException]] (the 412 shape), with
  *    the compare and the replace atomic against other writers (what
  *    the real store does server-side — a JVM-wide lock suffices for
  *    the in-process certification battery);
  *  - `overwrite(false)` + `must(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE,
  *    true)` is create-if-absent (`If-None-Match: *`):
  *    existing object → [[FileAlreadyExistsException]];
  *  - the object lands atomically for lock-free readers (tmp +
  *    ATOMIC_MOVE — object stores give this for free: a key is either
  *    the old object or the new one). */
class EtagCasTestFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "etagfs"
  override def getUri: URI = URI.create("etagfs:///")

  private def localPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  private def etagOf(p: Path): Option[String] = {
    val lp = localPath(p)
    if (java.nio.file.Files.isRegularFile(lp))
      Some(md5hex(java.nio.file.Files.readAllBytes(lp)))
    else None
  }

  // plain-field construction: the FileStatus copy constructor eagerly
  // copies permissions, and RawLocal's deprecated status loads them via
  // `new java.io.File(uri)` — which rejects the non-file scheme
  private class EtagStatus(s: FileStatus, etag: String)
    extends FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      null, null, null, s.getPath) with EtagSource {
    override def getEtag: String = etag
  }

  override def hasPathCapability(p: Path, capability: String): Boolean =
    CommonPathCapabilities.ETAGS_AVAILABLE.equalsIgnoreCase(capability) ||
      super.hasPathCapability(p, capability)

  override def getFileStatus(p: Path): FileStatus = {
    val s = super.getFileStatus(p)
    if (s.isFile) etagOf(p).map(new EtagStatus(s, _)).getOrElse(s) else s
  }

  // RawLocal's createNewFile is check-then-act; a real object store's
  // create-if-absent (and HDFS's) is atomic. Restore the store's
  // semantics with an O_EXCL NIO create so concurrent claimants on this
  // double race the way they would in production.
  override def createNewFile(p: Path): Boolean = {
    val lp = localPath(p)
    java.nio.file.Files.createDirectories(lp.getParent)
    try { java.nio.file.Files.createFile(lp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  // the Java wildcard signature translates to this existential in Scala
  override def createFile(p: Path): FSDataOutputStreamBuilder[S, B] forSome {
      type S <: FSDataOutputStream; type B <: FSDataOutputStreamBuilder[S, B] } =
    new CondBuilder(this, p)

  private class CondBuilder(fs: EtagCasTestFileSystem, p: Path)
    extends FSDataOutputStreamBuilder[FSDataOutputStream, CondBuilder](fs, p) {
    override def getThisBuilder: CondBuilder = this
    override def build(): FSDataOutputStream = {
      val mand = getMandatoryKeys
      val wantEtag =
        if (mand.contains(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG))
          Option(getOptions.get(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG))
        else None
      val ifAbsent =
        mand.contains(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE) &&
          getOptions.getBoolean(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE, false) &&
          !getFlags.contains(CreateFlag.OVERWRITE)
      val buf = new java.io.ByteArrayOutputStream()
      val sink = new java.io.OutputStream {
        override def write(b: Int): Unit = buf.write(b)
        override def write(b: Array[Byte], o: Int, l: Int): Unit = buf.write(b, o, l)
        // the conditional PUT: compare + replace, atomic vs other writers
        override def close(): Unit = EtagCasTestFileSystem.putLock.synchronized {
          val dst = fs.localPath(p)
          wantEtag.foreach { e =>
            if (!fs.etagOf(p).contains(e))
              throw new RemoteFileChangedException(p.toString,
                "PUT rejected: etag precondition failed (If-Match, 412)")
          }
          if (ifAbsent && java.nio.file.Files.exists(dst))
            throw new FileAlreadyExistsException(p.toString)
          java.nio.file.Files.createDirectories(dst.getParent)
          val tmp = dst.resolveSibling(
            dst.getFileName.toString + "." +
              java.util.UUID.randomUUID().toString + ".tmp")
          java.nio.file.Files.write(tmp, buf.toByteArray)
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
      }
      new FSDataOutputStream(sink, null)
    }
  }
}

object EtagCasTestFileSystem {
  private val putLock = new Object
}

/** The AbstractFileSystem face of [[EtagCasTestFileSystem]] (what
  * `FileContext` resolves through `fs.AbstractFileSystem.etagfs.impl`)
  * — same delegation shape as [[GraftTestAbstractFs]]. */
class EtagCasAbstractFs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
  extends DelegateToFileSystem(uri, new EtagCasTestFileSystem, conf, "etagfs", false)
