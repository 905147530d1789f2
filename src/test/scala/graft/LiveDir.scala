package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Where an item's data files live — `items/<KEY>/data/`, one
  * `__bucket=<label>` dir per bucket — and the manifests that make a
  * file part of the item. Specs that plant files among an item's data
  * (debris, rogue buckets) resolve the dir here; a planted file is
  * invisible to every read until [[plant]] adds it to the current
  * version.
  */
object LiveDir {
  /** Local-filesystem form, for a store opened on a plain local `dir`. */
  def apply(s: Store, dir: String, key: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "items", s.validateKey(key), "data")

  /** Hadoop form, for any scheme. */
  def hpath(s: Store, key: String): HPath =
    new HPath(itemDir(s, key), "data")

  /** The data files the current version of `key` names. */
  def files(s: Store, key: String): Seq[HPath] = s.files(key).map(_.getPath)

  /** Adds `file`, a file under the item's data dir, to the current
    * version: to the unit manifest of its unit (its bucket dir, or ""
    * for a file directly in `data/`), which it creates when the version
    * has no such unit yet. Manifests are rewritten in place.
    */
  def plant(s: Store, key: String, file: HPath): Unit = {
    val item = itemDir(s, key)
    val fs = item.getFileSystem(s.spark.sparkContext.hadoopConfiguration)
    val rel = file.toUri.getPath.stripPrefix(item.toUri.getPath + "/")
    val unit = if (file.getParent.getName == "data") "" else file.getParent.getName
    val version = Store.readUTF8(fs, new HPath(item, "_current")).trim
    val units = manifest(fs, new HPath(item, version))
    val entry = (fs.getFileStatus(file).getLen.toString, rel)
    units.find(_._1 == unit) match {
      case Some((_, m)) =>
        val p = new HPath(item, m)
        Store.writeUTF8(fs, p, Store.renderManifest(manifest(fs, p) :+ entry))
      case None =>
        val m = "u-planted-" + java.util.UUID.randomUUID()
        Store.writeUTF8(fs, new HPath(item, m), Store.renderManifest(Seq(entry)))
        Store.writeUTF8(fs, new HPath(item, version),
          Store.renderManifest((units :+ (unit -> m)).sortBy(_._1)))
    }
  }

  private def itemDir(s: Store, key: String): HPath =
    new HPath(new HPath(s.base, "items"), s.validateKey(key))

  private def manifest(fs: FileSystem, p: HPath): Seq[(String, String)] =
    Store.parseManifest(Store.readUTF8(fs, p)).get
}
