package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.Random

/** Seeded crawl documents: the input of corpus_ingest and of
  * query_sweep's text queries.
  */
object Docs {
  import Common._

  private val Vocab = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "customer", "join", "vector",
    "index", "store", "bucket", "day", "tick", "price", "token", "model", "shard")
  private val Stop = Array("the", "a", "of", "and", "to", "in", "is", "that")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  final case class Doc(id: Long, ts: Long, text: String, lang: String, source: String)

  private def freshDocs(seed: Long, b: Int, size: Int): IndexedSeq[Doc] = {
    val rnd = new Random(seed * 1000003L + b)
    val t0 = dayStartMicros(b)
    (0 until size).map { j =>
      val n = 15 + rnd.nextInt(90)
      val sb = new StringBuilder
      var cap = true
      for (k <- 0 until n) {
        val w =
          if (rnd.nextInt(5) == 0) Stop(rnd.nextInt(Stop.length))
          else Vocab(rnd.nextInt(Vocab.length))
        if (k > 0) sb.append(' ')
        sb.append(if (cap) w.capitalize else w)
        cap = false
        val r = rnd.nextInt(12)
        if (r == 0) { sb.append('.'); cap = true }
        else if (r == 1) sb.append(',')
      }
      sb.append('.')
      Doc(b.toLong * 100000L + j, t0 + rnd.nextLong(DayMicros), sb.toString,
        Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}")
    }
  }

  /** Day `b` as crawled: `size` fresh documents, a tenth as many near
    * duplicates of them (one word appended; their ids start at 50000
    * within the day), and a twentieth as many exact re-sends of the
    * previous day's documents.
    */
  def batch(seed: Long, b: Int, size: Int): IndexedSeq[Doc] = {
    val fresh = freshDocs(seed, b, size)
    val rnd = new Random(seed * 7919L + b)
    val near = (0 until size / 10).map { j =>
      val d = fresh(rnd.nextInt(fresh.size))
      d.copy(id = b.toLong * 100000L + 50000L + j, ts = dayStartMicros(b) + rnd.nextLong(DayMicros),
        text = d.text + " " + Vocab(rnd.nextInt(Vocab.length)))
    }
    val resent = if (b == 0) Nil else {
      val prev = freshDocs(seed, b - 1, size)
      rnd.ints(0, prev.size).distinct().limit((size / 20).toLong).toArray.toSeq.map(prev(_))
    }
    fresh ++ near ++ resent
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** Writes `docs` as `<dir>/documents.parquet` (the crawl output). */
  def land(spark: SparkSession, docs: Seq[Doc], dir: String): Unit = {
    val rows = docs.map(d => Row(d.id, d.ts, d.text, d.lang, d.source))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .withColumn("ts", timestamp_micros(col("ts")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
  }
}
