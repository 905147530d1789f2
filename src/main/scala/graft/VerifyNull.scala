package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derived-corpora gate runner (r13 verdict task #7): deterministically
  * derives a NULL-bearing / empty / single-row copy of an sf dir IN
  * SCALA — no python dependency, so the gate can run wherever the
  * engine runs — then executes the full Verify dump against it. The
  * DuckDB compare replays with the existing tool:
  *
  *   sbt "runMain graft.VerifyNull null /root/testdata/sf0.01 /tmp/vn"
  *   python3 tools/oracle_check.py /tmp/vn/corpus /tmp/vn/out
  *
  * NULL injection matches tools/nullify.py's PLAN rates (basis points;
  * non-key ATTRIBUTES only — identities stay non-null, like real dirty
  * corpora) but seeds per (table, column, PRIMARY KEY) rather than row
  * position: key-seeded gates are order-independent, so the corpus is
  * bit-reproducible from any reader without trusting file row order.
  */
object VerifyNull {
  /** (table, column) -> null rate in basis points (tools/nullify.py). */
  val Plan: Map[String, Map[String, Int]] = Map(
    "events" -> Map("ts" -> 300, "event_type" -> 300, "value" -> 300),
    "documents" -> Map("lang" -> 300, "source" -> 300, "text" -> 200),
    "lineitem" -> Map(
      "l_quantity" -> 300, "l_extendedprice" -> 300, "l_discount" -> 300,
      "l_tax" -> 300, "l_shipdate" -> 300),
    "orders" -> Map(
      "o_totalprice" -> 300, "o_orderdate" -> 300, "o_orderpriority" -> 300),
    "embeddings" -> Map("embedding" -> 200, "label" -> 300)
  )

  /** Primary key per nulled table — the deterministic gate's seed. */
  val Keys: Map[String, Seq[String]] = Map(
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "embeddings" -> Seq("vec_id")
  )

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, workDir) = args
    require(Set("null", "empty", "single")(mode), s"mode must be null|empty|single, got $mode")
    val spark = DerivedCorpus.session()
    val corpus = s"$workDir/corpus"
    val out = s"$workDir/out"
    AllTables.foreach { t =>
      // events rides graft.Tables (ts-vintage normalization); everything
      // else is a straight read
      val df0 =
        if (t == "events") Tables.events(spark, sfDir)
        else spark.read.parquet(s"$sfDir/$t.parquet")
      val df = mode match {
        case "empty"  => df0.limit(0)
        case "single" => df0.limit(1)
        case "null" =>
          Plan.get(t).fold(df0) { cols =>
            val keyExpr = concat_ws("/", Keys(t).map(c => col(c).cast("string")): _*)
            cols.foldLeft(df0) { case (d, (c, bp)) =>
              // md5 first 4 bytes (8 hex chars) as unsigned int, mod
              // 10000 against the basis-point rate — nullify.py's gate
              // with a key seed instead of a row-position seed
              val gate = conv(
                substring(md5(concat(lit(s"$t/$c/"), keyExpr)), 1, 8), 16, 10)
                .cast("long") % 10000 < bp
              d.withColumn(c,
                when(gate, lit(null).cast(d.schema(c).dataType)).otherwise(col(c)))
            }
          }
      }
      // land as a FLAT FILE named <t>.parquet (what Tables and the
      // DuckDB views expect), not a directory — shared with VerifyFuzz
      DerivedCorpus.writeFlat(df, corpus, t)
      val nulled = Plan.get(t).map { cols =>
        cols.keys.map { c =>
          val n = spark.read.parquet(s"$corpus/$t.parquet")
            .filter(col(c).isNull).count()
          s"$c=$n"
        }.mkString(" ")
      }.getOrElse("")
      println(s"[verifynull] $t: mode=$mode $nulled")
    }
    println(s"[verifynull] corpus at $corpus; dumping queries to $out")
    // the standard dump + oracle manifest against the derived corpus
    Verify.main(Array(corpus, out))
  }
}
