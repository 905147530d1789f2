package graft

import org.apache.hadoop.fs.{FileStatus, Path => HPath, RawLocalFileSystem}
import java.net.URI

/** Test-only Hadoop FileSystem with RAW-OBJECT-STORE rename semantics:
  * `rename(src, dst)` is a per-object COPY of every file followed by a
  * per-object DELETE of every source file — never atomic, exactly the
  * shape `s3a://` gives a directory "rename". Everything else delegates
  * to the local filesystem, so Spark's parquet data plane runs
  * unmodified through it.
  *
  * Two instruments for specs:
  *  - every rename is recorded in [[ObjStoreFs.renames]] (src, dst), so
  *    a spec can assert which renames a code path performs (e.g. the
  *    item-level write path performs NO control-plane rename);
  *  - [[ObjStoreFs.crash]] arms an injected crash at an exact point
  *    inside a matching rename — after N files of the copy phase or
  *    after N files of the delete phase — leaving the genuine partial
  *    on-disk state a process death would leave there.
  *
  * Registered under the `objstore://` scheme via
  * `fs.objstore.impl = graft.ObjStoreFs` on the session's
  * hadoopConfiguration (see ObjStoreSpec).
  */
class ObjStoreFs extends RawLocalFileSystem {
  override def getScheme: String = "objstore"
  override def getUri: URI = ObjStoreFs.SchemeUri

  /** RawLocalFileSystem's lazy permission loading does `new File(uri)`
    * on the status's own (objstore-scheme) URI and dies; materialize a
    * plain FileStatus with a fixed permission instead — object stores
    * have no POSIX permissions anyway.
    */
  private def solid(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDirDefault,
      "graft", "graft", st.getPath)

  override def getFileStatus(f: HPath): FileStatus = solid(super.getFileStatus(f))
  override def listStatus(f: HPath): Array[FileStatus] =
    super.listStatus(f).map(solid)

  /** Recursive file listing (files only — object stores have no real
    * directories), stable order so crash points are deterministic.
    */
  private def listRec(p: HPath): Seq[FileStatus] = {
    val st = getFileStatus(p)
    if (st.isDirectory)
      listStatus(p).sortBy(_.getPath.toUri.getPath.toString).toSeq
        .flatMap(s => listRec(s.getPath))
    else Seq(st)
  }

  private def relativeTo(root: HPath, p: HPath): String = {
    val r = root.toUri.getPath
    val f = p.toUri.getPath
    require(f.startsWith(r), s"$f not under $r")
    f.stripPrefix(r).stripPrefix("/")
  }

  private def copyFile(src: HPath, dst: HPath): Unit = {
    val in = open(src)
    val out = create(dst, true)
    org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true)
  }

  private def maybeCrash(src: HPath, phase: String, n: Int): Unit =
    ObjStoreFs.crash.foreach { c =>
      if (src.toUri.getPath.contains(c.srcContains) &&
          !c.srcExcludes.exists(src.toUri.getPath.contains) && c.phase == phase &&
          n == c.afterFiles) {
        ObjStoreFs.crash = None // one-shot, like the process death it models
        // halt = REAL process death (no finally blocks, no cleanup —
        // the two-process crash spec uses this in a forked child JVM);
        // otherwise model it as a thrown error inside one JVM
        if (c.halt) Runtime.getRuntime.halt(42)
        throw new ObjStoreFs.InjectedCrash(
          s"injected crash: rename of $src died in $phase phase after $n files")
      }
    }

  // pointer-commit crash point: REAL process death at the instant a
  // matching object is about to be created — armed by the two-process
  // versioncrash child to die between a fully-materialized new version
  // dir and its `_current` pointer commit (the commit IS a create)
  private def maybeHaltOnCreate(f: HPath): Unit =
    ObjStoreFs.haltOnCreatePath.foreach { sub =>
      if (f.toUri.getPath.contains(sub)) Runtime.getRuntime.halt(43)
    }

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    maybeHaltOnCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: HPath,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    maybeHaltOnCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // mid-sweep crash point: REAL process death the instant a matching
  // DELETE begins — vacuum's orphan-version sweep and versionSwap's
  // old-version reclaim are pure delete paths a rename crash can never
  // reach. `deleteSkips` lets the arm pass over the first N matching
  // deletes so a multi-orphan sweep dies PARTWAY, not at its first
  // decision (the delete half of a hidden `.graft-tmp-` file's landing
  // rename is excluded — that's the rename family's territory).
  private def maybeHaltOnDelete(f: HPath): Unit =
    ObjStoreFs.haltOnDeletePath.foreach { sub =>
      val p = f.toUri.getPath
      if (p.contains(sub) && !p.contains(ObjStoreFs.HiddenPrefix) &&
          ObjStoreFs.deleteSkips.getAndDecrement() <= 0)
        Runtime.getRuntime.halt(44)
    }

  override def delete(f: HPath, recursive: Boolean): Boolean = {
    if (ObjStoreFs.traceDeletes)
      System.err.println(s"[objstore-delete] recursive=$recursive ${f.toUri.getPath}")
    maybeHaltOnDelete(f)
    ObjStoreFs.crashOnDeleteOf.foreach { suffix =>
      if (f.toUri.getPath.endsWith(suffix)) {
        ObjStoreFs.crashOnDeleteOf = None // one-shot
        throw new ObjStoreFs.InjectedCrash(s"injected crash: delete of $f")
      }
    }
    super.delete(f, recursive)
  }

  override def open(f: HPath, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".parquet"))
      ObjStoreFs.beforeDataOpen.foreach { act =>
        ObjStoreFs.beforeDataOpen = None // one-shot
        act()
      }
    super.open(f, bufferSize)
  }

  override def rename(src: HPath, dst: HPath): Boolean = {
    ObjStoreFs.renames.add((src.toUri.getPath, dst.toUri.getPath))
    if (!exists(src)) return false
    if (exists(dst)) return false // conservative HDFS-style contract
    val st = getFileStatus(src)
    if (st.isFile) {
      maybeCrash(src, "copy", 0)
      copyFile(src, dst)
      maybeCrash(src, "delete", 0)
      delete(src, false)
      true
    } else {
      val files = listRec(src)
      var i = 0
      files.foreach { f =>
        maybeCrash(src, "copy", i)
        copyFile(f.getPath, new HPath(dst, relativeTo(src, f.getPath)))
        i += 1
      }
      if (files.isEmpty) mkdirs(dst) // empty dir: preserve its existence
      i = 0
      files.foreach { f =>
        maybeCrash(src, "delete", i)
        delete(f.getPath, false)
        i += 1
      }
      delete(src, true) // sweep the now-empty source dir tree
      true
    }
  }
}

object ObjStoreFs {
  val SchemeUri: URI = URI.create("objstore:///")

  /** Every rename the FS saw, (src path, dst path) — includes the
    * Store's landing renames of single files; specs filter by path
    * shape.
    */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]

  /** Armed crash point: the next rename whose SOURCE path contains
    * `srcContains` (and not `srcExcludes` — by default the Store's
    * landing renames of the hidden files its mutation kernel wrote, so
    * a point aimed at a swap's dir rename fires there) throws
    * [[InjectedCrash]] after `afterFiles` files of the given phase
    * ("copy" | "delete") have been processed, leaving partial state
    * behind. One-shot: disarms when it fires.
    */
  @volatile var crash: Option[Crash] = None
  final case class Crash(srcContains: String, phase: String, afterFiles: Int,
      srcExcludes: Option[String] = Some(HiddenPrefix), halt: Boolean = false)

  /** Name prefix of the Store's not-yet-landed data files. */
  val HiddenPrefix = ".graft-tmp-"
  final class InjectedCrash(msg: String) extends java.io.IOException(msg)

  /** When set: `Runtime.halt(43)` the instant a create targets a path
    * containing this substring — real process death at an exact
    * control-plane commit point (see maybeHaltOnCreate).
    */
  @volatile var haltOnCreatePath: Option[String] = None

  /** When set: `Runtime.halt(44)` the instant a delete targets a path
    * containing this substring (hidden [[HiddenPrefix]] files
    * excluded), after letting [[deleteSkips]] matching deletes pass —
    * real process death partway through a vacuum sweep or an
    * old-version reclaim (see maybeHaltOnDelete).
    */
  @volatile var haltOnDeletePath: Option[String] = None
  val deleteSkips = new java.util.concurrent.atomic.AtomicInteger(0)

  /** When set: the next delete whose path ENDS with this suffix throws
    * [[InjectedCrash]] before deleting anything (one-shot) — an
    * in-process crash between two deletes of one op.
    */
  @volatile var crashOnDeleteOf: Option[String] = None

  /** When set: runs before the next open of a `.parquet` file
    * (one-shot; the action may re-arm it) — a concurrent rewrite landing
    * between a reader's listing and its read.
    */
  @volatile var beforeDataOpen: Option[() => Unit] = None

  /** Diagnostic: print every delete the FS sees (never armed by specs —
    * a human investigating which real delete a kill point hit).
    */
  val traceDeletes: Boolean = sys.env.contains("GRAFT_OBJSTORE_TRACE_DELETES")

  def reset(): Unit = {
    renames.clear(); crash = None; haltOnCreatePath = None
    haltOnDeletePath = None; deleteSkips.set(0); crashOnDeleteOf = None
    beforeDataOpen = None
  }
}
