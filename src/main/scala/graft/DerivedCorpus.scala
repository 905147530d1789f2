package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared landing path for DERIVED verification corpora (VerifyNull's
  * null/empty/single modes, VerifyFuzz's adversarial mode): writes a
  * DataFrame as the FLAT FILE `<corpus>/<t>.parquet` that graft.Tables
  * and the DuckDB oracle views expect, mirroring the driver testdata's
  * timestamp vintage.
  */
private[graft] object DerivedCorpus {

  /** Mirror the source vintage exactly: the driver's testdata tags
    * timestamps TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark's
    * TIMESTAMP_MICROS writer would tag adjusted=true and flip the
    * DuckDB/pandas dtype to tz-aware, failing every dtype compare.
    * Casting to TIMESTAMP_NTZ (value-identical under the UTC session)
    * writes the unadjusted annotation.
    */
  def asNtz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      else d
    }

  /** Write `df` as the flat file `<corpus>/<t>.parquet`: write a
    * single-part dir, promote the part file, sweep the staging dir.
    */
  def writeFlat(df: DataFrame, corpus: String, t: String): Unit = {
    val tmpDir = s"$corpus/.tmp-$t"
    asNtz(df).coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val tmp = java.nio.file.Paths.get(tmpDir)
    val dest = java.nio.file.Paths.get(s"$corpus/$t.parquet")
    // Files.list streams hold an open DirectoryStream — close them
    def withListing[A](d: java.nio.file.Path)(
        f: Iterator[java.nio.file.Path] => A): A = {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        f(s.iterator().asScala)
      } finally s.close()
    }
    val moved = withListing(tmp) { it =>
      it.foldLeft(false) { (m, p) =>
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          true
        } else m
      }
    }
    require(moved, s"no part file produced for $t")
    withListing(tmp)(_.foreach(p => java.nio.file.Files.deleteIfExists(p)))
    java.nio.file.Files.deleteIfExists(tmp)
  }

  /** The session every derived-corpus runner uses (same confs as
    * Verify/Bench so the dump runs under identical semantics).
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the corpus mirrors the source vintage (micros), NOT the dump's
    // INT96 — DuckDB and graft.Tables read both, but micros keeps the
    // row-group stats the scan paths rely on
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s
  }
}
