package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Store

/** Re-proves, on every `sbt test`, the premise the NaN-proof footer
  * gate rests on: the RUNTIME parquet-mr writer OMITS a chunk's
  * min/max entirely when any NaN was seen, so stats-present implies
  * NaN-free and footer-answered float/double min/max stays exact.
  *
  * The premise was originally established by a manual probe
  * (tools/NanProbe) against parquet-mr 1.16, and the gate trusts an
  * EXPLICIT allowlist of probed vintages (Store.NanProofProbedVintages).
  * A Spark-jar upgrade swaps the writer under us: this spec makes
  * that event fail LOUDLY in two distinct ways instead of silently
  * weakening either correctness or performance —
  *
  *  - if the new vintage still omits stats on NaN but isn't in the
  *    allowlist, the allowlist test fails → re-run tools/NanProbe on
  *    the new jar and extend the set (perf would otherwise silently
  *    degrade: every float/double footer answer refused);
  *  - if the new vintage writes finite NaN-skipping bounds (the
  *    parquet spec's direction, PARQUET-1222 / nan_count), the
  *    omission tests fail → the gate premise is BROKEN for that
  *    vintage and it must NOT be allowlisted (correctness would
  *    otherwise silently break: footer max() would drop NaN while the
  *    scan returns it — Spark orders NaN greatest).
  */
class NanProofVintageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmpDir(): String =
    Files.createTempDirectory("nanproof").toString

  /** Write a one-file parquet dataset with the runtime Spark writer
    * and return (created_by, per-column Statistics of the single
    * row group).
    */
  private def writeAndFooter(df: org.apache.spark.sql.DataFrame)
      : (String, Map[String, org.apache.parquet.column.statistics.Statistics[_]]) = {
    val dir = tmpDir()
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = new HPath(dir).getFileSystem(conf)
    val f = fs.listStatus(new HPath(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val footer = Store.readFooter(conf, f)
    val createdBy = footer.getFileMetaData.getCreatedBy
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala
    assert(blocks.size == 1, s"expected one row group, got ${blocks.size}")
    val stats = blocks.head.getColumns.asScala
      .map(c => c.getPath.toDotString -> c.getStatistics).toMap
    (createdBy, stats)
  }

  private def dataFile(dir: String): String = {
    val fs = new HPath(dir).getFileSystem(conf)
    fs.listStatus(new HPath(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head.toString
  }

  test("the runtime writer's parquet-mr vintage is on the probed allowlist") {
    import spark.implicits._
    val (createdBy, _) = writeAndFooter(Seq(1.0, 2.0).toDF("v"))
    val m = """parquet-mr version (\d+)\.(\d+)""".r.findFirstMatchIn(createdBy)
    assert(m.nonEmpty, s"runtime writer is not parquet-mr? created_by=$createdBy")
    val vintage = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(Store.NanProofProbedVintages.contains(vintage),
      s"runtime parquet-mr vintage $vintage (created_by=$createdBy) is not " +
        "in Store.NanProofProbedVintages — the Spark jars changed under the " +
        "NaN-proof gate. Re-run tools/NanProbe on this jar: if it still " +
        "omits chunk stats on NaN, extend the allowlist; if it records " +
        "finite NaN-skipping bounds, the gate premise no longer holds for " +
        "this vintage and it must stay refused.")
  }

  test("runtime writer omits double min/max when a chunk saw NaN (gate premise)") {
    import spark.implicits._
    val (_, stats) = writeAndFooter(Seq(1.0, 2.0, Double.NaN, 3.0).toDF("v"))
    val st = stats("v")
    assert(st == null || st.isEmpty || !st.hasNonNullValue,
      s"runtime parquet-mr recorded min/max on a NaN-bearing double chunk " +
        s"($st) — the NaN-proof premise is BROKEN for this vintage; it must " +
        "be removed from Store.NanProofProbedVintages")
  }

  test("runtime writer omits float min/max when a chunk saw NaN (gate premise)") {
    import spark.implicits._
    val (_, stats) = writeAndFooter(Seq(1.0f, 2.0f, Float.NaN).toDF("f"))
    val st = stats("f")
    assert(st == null || st.isEmpty || !st.hasNonNullValue,
      s"runtime parquet-mr recorded min/max on a NaN-bearing float chunk ($st)")
  }

  test("all-NaN chunk records no min/max either") {
    import spark.implicits._
    val (_, stats) = writeAndFooter(Seq(Double.NaN, Double.NaN).toDF("v"))
    val st = stats("v")
    assert(st == null || st.isEmpty || !st.hasNonNullValue,
      s"all-NaN chunk must not record bounds ($st)")
  }

  test("control: a clean double chunk DOES record min/max (gate not vacuous)") {
    import spark.implicits._
    val (_, stats) = writeAndFooter(Seq(1.5, -2.5, 3.5).toDF("v"))
    val st = stats("v")
    assert(st != null && !st.isEmpty && st.hasNonNullValue,
      "a NaN-free double chunk must record bounds or the gate refuses everything")
    assert(st.genericGetMin == java.lang.Double.valueOf(-2.5) &&
      st.genericGetMax == java.lang.Double.valueOf(3.5))
  }

  test("±0.0 bounds are refused: parquet-mr widens signed zeros, so a zero bound's sign is unknowable") {
    import spark.implicits._
    // parquet-mr records an actual min of +0.0 as -0.0 and an actual
    // max of -0.0 as +0.0 (sign widening), so a footer answer for a
    // zero bound could render the opposite zero from the scan path —
    // numerically equal, bit-distinguishable (string form, 1/x sign).
    // The gate refuses zero bounds entirely; this pins the behavior.
    val dirZ = tmpDir()
    Seq(0.0, 1.0, 2.0).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(dirZ)
    val z = Store.fileFooterAgg(conf, dataFile(dirZ), Seq("V"), Set("V"))
    assert(!z.minMaxOkCols.contains("V"),
      "a chunk whose min is ±0.0 must be refused for footer min/max")

    val dirNegZ = tmpDir()
    Seq(-1.0, -0.5, -0.0).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(dirNegZ)
    val nz = Store.fileFooterAgg(conf, dataFile(dirNegZ), Seq("V"), Set("V"))
    assert(!nz.minMaxOkCols.contains("V"),
      "a chunk whose max is ±0.0 must be refused for footer min/max")

    // control: non-zero bounds still qualify under the runtime writer
    val dirOk = tmpDir()
    Seq(1.0, 2.0, 3.0).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(dirOk)
    val ok = Store.fileFooterAgg(conf, dataFile(dirOk), Seq("V"), Set("V"))
    assert(ok.minMaxOkCols.contains("V"),
      "non-zero NaN-free bounds from the runtime writer must still qualify")
    assert(ok.minMaxByCol("V") ==
      (Store.sortableDoubleBits(1.0), Store.sortableDoubleBits(3.0)))
  }

  // ---- foreign vintages (round-16 probe drill, tools/nanprobe_foreign.py) --
  //
  // The recovery drill the allowlist documents ("re-run the probe on a
  // new vintage, then extend or pin its refusal") was walked against
  // the two OTHER parquet writers in this sandbox. The probe receipts
  // (PLANS.md round 16) and the committed fixture files pin the
  // refusal verdicts:
  //
  //  - parquet-cpp-arrow 16.1.0 records FINITE min/max on a
  //    NaN-bearing double chunk (min=1.0 max=3.0 over {1,2,NaN,3}) —
  //    the exact silently-NaN-skipping behavior the veto exists for.
  //    Trusting it would footer-answer max()=3.0 where the scan
  //    returns NaN (Spark orders NaN greatest). MUST stay refused.
  //  - DuckDB omits stats entirely on a NaN-bearing chunk (safe, but
  //    indistinguishable from stats-absent) → refused by the same
  //    stats-missing veto.

  private def fixture(name: String): String = {
    val url = getClass.getResource(s"/foreign-vintage/$name")
    assert(url != null, s"missing test fixture foreign-vintage/$name")
    url.getPath
  }

  test("parquet-cpp-arrow vintage: finite NaN-skipping bounds are refused (the veto's reason made flesh)") {
    // first verify the fixture still shows the dangerous footer shape
    val footer = Store.readFooter(conf, new HPath(fixture("with_nan.pyarrow.parquet")))
    val createdBy = footer.getFileMetaData.getCreatedBy
    val st = footer.getBlocks.get(0).getColumns.get(0).getStatistics
    assert(createdBy.startsWith("parquet-cpp-arrow"), createdBy)
    assert(st.hasNonNullValue &&
      st.genericGetMin == java.lang.Double.valueOf(1.0) &&
      st.genericGetMax == java.lang.Double.valueOf(3.0),
      s"fixture drifted: expected finite NaN-skipping bounds 1.0..3.0, got $st")
    // the data really contains NaN — the footer's 3.0 max is a lie
    val scanned = spark.read
      .parquet(fixture("with_nan.pyarrow.parquet"))
      .selectExpr("max(v)").head.getDouble(0)
    assert(scanned.isNaN, s"scan max should be NaN, got $scanned")
    // ...and the gate refuses it
    val agg = Store.fileFooterAgg(
      conf, fixture("with_nan.pyarrow.parquet"), Seq("V"), Set("V"))
    assert(!agg.minMaxOkCols.contains("V"),
      "a parquet-cpp-arrow double column must be refused for footer min/max")
    assert(agg.rows == 4L, "row count stays exact regardless of vintage")
  }

  test("DuckDB vintage: NaN-bearing chunk has no stats and is refused") {
    val agg = Store.fileFooterAgg(
      conf, fixture("with_nan.duckdb.parquet"), Seq("V"), Set("V"))
    assert(!agg.minMaxOkCols.contains("V"),
      "a DuckDB-written NaN-bearing double column must be refused")
    assert(agg.rows == 4L)
  }

  test("foreign created_by strings never match the parquet-mr allowlist regex") {
    val re = """parquet-mr version (\d+)\.(\d+)""".r
    for (cb <- Seq(
        "parquet-cpp-arrow version 16.1.0",
        "DuckDB",
        "parquet-cpp version 1.5.1-SNAPSHOT",
        "")) {
      assert(re.findFirstMatchIn(cb).isEmpty, s"'$cb' must not parse as parquet-mr")
    }
    // an UNPROBED parquet-mr vintage parses but is not allowlisted
    val old = re.findFirstMatchIn(
      "parquet-mr version 1.12.3 (build f8dced182c4c1fbdec6ccb3185537b5a01e6ed6b)")
    assert(old.nonEmpty)
    assert(!Store.NanProofProbedVintages.contains(
      (old.get.group(1).toInt, old.get.group(2).toInt)),
      "parquet-mr 1.12 was never probed and must stay refused")
  }
}
