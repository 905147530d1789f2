package graft

import graft.sources.Store
import org.apache.hadoop.fs.{Path => HPath}

/** Where an item's data files live: `items/<KEY>/<current version>/`,
  * the directory its `_current` pointer names. Specs that plant files
  * among an item's data (debris, rogue buckets) or list them by hand
  * resolve it here.
  */
object LiveDir {
  def id(s: Store, key: String): String =
    s.versionsOf(key).find(_.current).get.id

  /** Local-filesystem form, for a store opened on a plain local `dir`. */
  def apply(s: Store, dir: String, key: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "items", s.validateKey(key), id(s, key))

  /** Hadoop form, for any scheme. */
  def hpath(s: Store, key: String): HPath =
    new HPath(new HPath(new HPath(s.base, "items"), s.validateKey(key)), id(s, key))
}
