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
  * Instruments for specs:
  *  - every rename is recorded in [[ObjStoreFs.renames]] (src, dst), so
  *    a spec can assert that a code path performs none;
  *  - [[ObjStoreFs.afterWrite]] pauses a writer after each file it
  *    closes, and [[ObjStoreFs.beforeDelete]] before each delete — a
  *    spec can read the store there, or throw [[ObjStoreFs.InjectedCrash]]
  *    to model a process death at that point;
  *  - `haltOnCreatePath`/`haltOnDeletePath` are REAL process death
  *    (`Runtime.halt`) at a matching create or delete, for the forked
  *    JVMs of the two-process specs.
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
  override def listStatus(f: HPath): Array[FileStatus] = {
    ObjStoreFs.beforeList.foreach(_(f))
    super.listStatus(f).map(solid)
  }

  /** Recursive file listing (files only — object stores have no real
    * directories), stable order.
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

  // commit crash point: REAL process death at the instant a matching
  // object is about to be created — armed by the two-process children
  // to die at a manifest create or at the `_current` pointer commit
  // (the commit IS a create)
  private def maybeHaltOnCreate(f: HPath): Unit =
    ObjStoreFs.haltOnCreatePath.foreach { sub =>
      if (f.toUri.getPath.contains(sub)) Runtime.getRuntime.halt(43)
    }

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    maybeHaltOnCreate(f)
    paused(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def create(f: HPath,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    maybeHaltOnCreate(f)
    paused(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  // pause point: the writer stops right after the file is closed, while
  // [[ObjStoreFs.afterWrite]] runs on its thread
  private def paused(f: HPath, out: org.apache.hadoop.fs.FSDataOutputStream)
      : org.apache.hadoop.fs.FSDataOutputStream =
    ObjStoreFs.afterWrite.fold(out)(hook =>
      new org.apache.hadoop.fs.FSDataOutputStream(out, null) {
        override def close(): Unit = { super.close(); hook(f) }
      })

  // mid-delete crash point: REAL process death the instant a matching
  // DELETE begins — a commit's deletes of what it superseded and
  // vacuum's sweep are pure delete paths. `deleteSkips` lets the arm
  // pass over the first N matching deletes so a multi-file delete dies
  // PARTWAY, not at its first decision.
  private def maybeHaltOnDelete(f: HPath): Unit =
    ObjStoreFs.haltOnDeletePath.foreach { sub =>
      if (f.toUri.getPath.contains(sub) && ObjStoreFs.deleteSkips.getAndDecrement() <= 0)
        Runtime.getRuntime.halt(44)
    }

  override def delete(f: HPath, recursive: Boolean): Boolean = {
    if (ObjStoreFs.traceDeletes)
      System.err.println(s"[objstore-delete] recursive=$recursive ${f.toUri.getPath}")
    maybeHaltOnDelete(f)
    ObjStoreFs.beforeDelete.foreach(_(f))
    super.delete(f, recursive)
  }

  override def open(f: HPath, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ObjStoreFs.beforeOpen.foreach(_(f))
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
    if (getFileStatus(src).isFile) {
      copyFile(src, dst)
      delete(src, false)
    } else {
      val files = listRec(src)
      files.foreach(f => copyFile(f.getPath, new HPath(dst, relativeTo(src, f.getPath))))
      if (files.isEmpty) mkdirs(dst) // empty dir: preserve its existence
      files.foreach(f => delete(f.getPath, false))
      delete(src, true) // sweep the now-empty source dir tree
    }
    true
  }
}

object ObjStoreFs {
  val SchemeUri: URI = URI.create("objstore:///")

  /** Every rename the FS saw, (src path, dst path). */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]

  final class InjectedCrash(msg: String) extends java.io.IOException(msg)

  /** When set: `Runtime.halt(43)` the instant a create targets a path
    * containing this substring — real process death at an exact
    * control-plane commit point (see maybeHaltOnCreate).
    */
  @volatile var haltOnCreatePath: Option[String] = None

  /** When set: `Runtime.halt(44)` the instant a delete targets a path
    * containing this substring, after letting [[deleteSkips]] matching
    * deletes pass — real process death partway through a commit's
    * deletes or a vacuum sweep (see maybeHaltOnDelete).
    */
  @volatile var haltOnDeletePath: Option[String] = None
  val deleteSkips = new java.util.concurrent.atomic.AtomicInteger(0)

  /** When set: runs on the writing thread after each file the FS
    * writes is closed, with its path — a pause inside a mutation, after
    * every data file and manifest it writes, in which a spec can read
    * the store or throw [[InjectedCrash]]. Not one-shot: the hook
    * decides.
    */
  @volatile var afterWrite: Option[HPath => Unit] = None

  /** When set: runs before each delete, with its path — throwing
    * [[InjectedCrash]] from it dies before that delete. Not one-shot.
    */
  @volatile var beforeDelete: Option[HPath => Unit] = None

  /** When set: runs before the next open of a `.parquet` file
    * (one-shot; the action may re-arm it) — a concurrent rewrite landing
    * between a reader's listing and its read.
    */
  @volatile var beforeDataOpen: Option[() => Unit] = None

  /** When set: runs before each open, with its path — another writer's
    * commit landing between two reads of a control-plane file. Not
    * one-shot: the hook decides.
    */
  @volatile var beforeOpen: Option[HPath => Unit] = None

  /** When set: runs before each directory listing, with its path — a
    * dir another writer deletes while a walk lists its parent. Not
    * one-shot: the hook decides.
    */
  @volatile var beforeList: Option[HPath => Unit] = None

  /** Diagnostic: print every delete the FS sees (never armed by specs —
    * a human investigating which real delete a kill point hit).
    */
  val traceDeletes: Boolean = sys.env.contains("GRAFT_OBJSTORE_TRACE_DELETES")

  def reset(): Unit = {
    renames.clear(); haltOnCreatePath = None
    haltOnDeletePath = None; deleteSkips.set(0)
    afterWrite = None; beforeDelete = None; beforeDataOpen = None
    beforeOpen = None; beforeList = None
  }
}
