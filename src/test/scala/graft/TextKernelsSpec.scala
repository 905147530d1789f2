package graft

import graft.functions.TextKernels
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the JVM kernels in [[TextKernels]] are BIT-IDENTICAL to the
  * SQL-expression plans they replaced (posexplode + lead-windows +
  * dropDuplicates shingling; explode + 64 min-agg MinHash; explode +
  * 64 bit-sum SimHash) — so swapping implementation cannot change any
  * query's result set, only its cost.
  */
class TextKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"
  val K = 5
  val Perms = 64
  val Bands = 8
  val RowsPerBand = 8

  private def docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** The former SQL shingle pipeline, verbatim. */
  private def sqlShingleRows = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val withLeads = toks.select(
      (col("doc_id") +: col("tok") +:
        (1 until K).map(i => lead(col("tok"), i).over(w).as(s"l$i"))): _*
    )
    val parts = col("tok") +: (1 until K).map(i => col(s"l$i"))
    withLeads
      .filter(col(s"l${K - 1}").isNotNull)
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("shingle"))
      .dropDuplicates("doc_id", "shingle")
  }

  test("posGrams matches the SQL posexplode+lead+concat_ws pipeline exactly") {
    val sp = spark
    import sp.implicits._
    val k = K
    // the former dedup_substring gram derivation, verbatim (positional:
    // no dropDuplicates — every occurrence with its token position)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks =
      docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val withLeads = toks.select(
      (col("doc_id") +: col("pos") +: col("tok") +:
        (1 until k).map(i => lead(col("tok"), i).over(w).as(s"l$i"))): _*
    )
    val parts = col("tok") +: (1 until k).map(i => col(s"l$i"))
    val sqlGrams = withLeads
      .filter(col(s"l${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"), concat_ws(" ", parts: _*).as("gram"))
    val kernel = docs
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        TextKernels.posGrams(t, k).map { case (p, g) => (id, p, g) }
      }
      .toDF("doc_id", "pos", "gram")
    assert(kernel.exceptAll(sqlGrams).count() == 0)
    assert(sqlGrams.exceptAll(kernel).count() == 0)
    // multi-space/empty-token edge: split keeps empties, concat_ws
    // joins them — "a  b c d e" tokenizes to ["a","","b","c","d"] ++
    // and grams carry the double space
    val edge = TextKernels.posGrams("a  b c d e", 5).toSeq
    assert(edge == Seq((0, "a  b c d"), (1, " b c d e")))
    assert(TextKernels.posGrams("a b c d", 5).isEmpty)
    assert(TextKernels.posGrams("", 5).isEmpty)
  }

  test("distinctShingles matches the SQL explode+lead+concat_ws pipeline exactly") {
    val sp = spark
    import sp.implicits._
    val k = K // locals: lambdas must not capture the (non-serializable) suite
    val kernel = docs
      .as[(Long, String)]
      .flatMap { case (id, t) => TextKernels.distinctShingles(t, k).map(sh => (id, sh)) }
      .toDF("doc_id", "shingle")
    assert(kernel.exceptAll(sqlShingleRows).count() == 0)
    assert(sqlShingleRows.exceptAll(kernel).count() == 0)
  }

  test("minhashSig + bandKeys are bit-identical to the SQL 64-min-agg plan") {
    val sp = spark
    import sp.implicits._
    val hashed = sqlShingleRows.select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val aggs = (0 until Perms).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    val sqlSigs = hashed
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("doc_id"),
        array((0 until Perms).map(i => col(s"m$i")): _*).as("sig")
      )
      .withColumn(
        "bkeys",
        array((0 until Bands).map { b =>
          xxhash64(lit(b), slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))
        }: _*)
      )
    val (k, perms, bands, rpb) = (K, Perms, Bands, RowsPerBand)
    val kernel = docs
      .as[(Long, String)]
      // like the production path: docs with <K tokens emit NO row,
      // exactly as the SQL aggregate plan does
      .flatMap { case (id, t) =>
        val shs = TextKernels.shingleHashes(t, k)
        if (shs.isEmpty) Iterator.empty
        else {
          val sig = TextKernels.minhashSig(shs, perms)
          Iterator.single((id, sig, TextKernels.bandKeys(sig, bands, rpb)))
        }
      }
      .toDF("doc_id", "sig", "bkeys")
    assert(kernel.exceptAll(sqlSigs).count() == 0)
    assert(sqlSigs.exceptAll(kernel).count() == 0)
  }

  test("simhashSig is bit-identical to the SQL 64-bit-sum plan") {
    val sp = spark
    import sp.implicits._
    val hashed = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 64).map(j => sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"c$j"))
    val sums = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val sigExpr = (0 until 64)
      .map(j => when(col(s"c$j") * 2 > col("n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val sqlSigs = sums.select(col("doc_id"), sigExpr.as("sig"))
    val kernel = docs
      .as[(Long, String)]
      // like the production path: zero-regex-token docs emit NO row,
      // exactly as the SQL aggregate plan does
      .flatMap { case (id, t) =>
        val toks = TextKernels.reTokens(t)
        if (toks.isEmpty) Iterator.empty
        else Iterator.single((id, TextKernels.simhashSigOf(toks)))
      }
      .toDF("doc_id", "sig")
    assert(kernel.exceptAll(sqlSigs).count() == 0)
    assert(sqlSigs.exceptAll(kernel).count() == 0)
  }

  test("docBandKey equals band 0 of the full 64-perm signature (stable seed prefix)") {
    val texts = Tables.documents(spark, dir)
      .select("text").collect().map(_.getString(0)).take(50)
    texts.foreach { t =>
      val shs = TextKernels.shingleHashes(t, K)
      val full =
        if (shs.isEmpty) None
        else Some(TextKernels.bandKeys(TextKernels.minhashSig(shs, Perms), Bands, RowsPerBand)(0))
      assert(TextKernels.docBandKey(t, K, RowsPerBand) == full)
    }
  }

  test("distinctShingles equals the naive sliding-window reference on random docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "", "dd", "e") // incl. empty token
    (1 to 200).foreach { _ =>
      val toks = Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val text = toks.mkString(" ")
      val naive =
        if (text.split(" ", -1).length < K) Array.empty[String]
        else text.split(" ", -1).sliding(K).map(_.mkString(" ")).toArray.distinct
      assert(TextKernels.distinctShingles(text, K).toSeq == naive.toSeq, s"text='$text'")
    }
  }

  test("repetitionStats equals naive token/bigram counting on random docs") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("x", "y", "zz", "w")
    (1 to 200).foreach { _ =>
      val toks = Vector.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      val text = toks.mkString(" ")
      val ws = text.split(" ", -1)
      val bigrams = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val naiveTop = if (bigrams.isEmpty) 0L else bigrams.groupBy(identity).values.map(_.size).max.toLong
      val (n, nd, topb) = TextKernels.repetitionStats(text)
      assert(n == ws.length.toLong && nd == ws.distinct.length.toLong && topb == naiveTop,
        s"text='$text' got=($n,$nd,$topb)")
    }
  }

  test("intersectCount equals set intersection on sorted arrays") {
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      assert(TextKernels.intersectCount(a, b) == a.toSet.intersect(b.toSet).size)
    }
  }

  test("shingleHashes dedup table: sized in Long, named error past 2^29 shingles") {
    assert(TextKernels.dedupTableCapacity(0) == 4)
    assert(TextKernels.dedupTableCapacity(2) == 4)
    assert(TextKernels.dedupTableCapacity(3) == 8)
    assert(TextKernels.dedupTableCapacity(1000) == 2048)
    // the old Int arithmetic overflowed 2n here and never terminated
    assert(TextKernels.dedupTableCapacity(TextKernels.MaxShingles) == (1 << 30))
    for (n <- Seq(TextKernels.MaxShingles + 1, (1 << 30) + 1, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](TextKernels.dedupTableCapacity(n))
      assert(e.getMessage.contains("shingleHashes") && e.getMessage.contains(n.toString))
    }
  }

  test("shingleHashes byte-slice path equals hash-of-distinctShingles on adversarial docs") {
    def reference(text: String, k: Int): Seq[Long] =
      TextKernels.distinctShingles(text, k).map(TextKernels.hashString).sorted.toSeq
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "bb", "", "héllo", "日本語", "x" * 40, "é", "🙂z")
    (1 to 300).foreach { _ =>
      val k = 1 + rnd.nextInt(6)
      val toks = Vector.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val text = toks.mkString(" ")
      assert(TextKernels.shingleHashes(text, k).toSeq == reference(text, k), s"k=$k text='$text'")
    }
    // explicit edges: empty text, consecutive/leading/trailing spaces,
    // repeated shingles (dedup), single token
    for (t <- Seq("", " ", "  ", "a  b c d e f", " a b c d e ", "a a a a a a a a",
        "a b c d e a b c d e", "solo"); k <- Seq(1, 2, 5))
      assert(TextKernels.shingleHashes(t, k).toSeq == reference(t, k), s"k=$k text='$t'")
  }

  test("prefixSelect matches the SQL collect_list+array_sort+slice prefix exactly") {
    val sp = spark
    import sp.implicits._
    val k = K
    for (tau <- Seq(0.8, 0.9)) {
      // payload exactly as production builds it
      val payload = docs
        .filter(col("text").isNotNull)
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val shs = TextKernels.shingleHashes(t, k)
          if (shs.isEmpty) Iterator.empty else Iterator.single((id, shs))
        }
        .toDF("doc_id", "shs")
        .persist()
      val inv = payload
        .select(col("doc_id"), size(col("shs")).as("sz"), explode(col("shs")).as("h"))
      val repeated = inv.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
      // the former rarePrefix pipeline, verbatim
      val sqlPrefix = inv
        .join(repeated, Seq("h"), "left")
        .groupBy(col("doc_id"), col("sz"))
        .agg(collect_list(struct(coalesce(col("df"), lit(1L)).as("df"), col("h"))).as("ps"))
        .select(
          col("doc_id"),
          explode(
            slice(
              array_sort(col("ps")),
              lit(1),
              (col("sz") - ceil(col("sz") * tau) + lit(1)).cast("int")
            )
          ).as("p")
        )
        .select(col("doc_id"), col("p.h").as("h"))
      // the kernel shape, as rarePrefix now builds it
      val docRep = inv
        .join(repeated, Seq("h"))
        .groupBy("doc_id")
        .agg(collect_list(struct(col("h"), col("df"))).as("reps"))
      val kernel = payload
        .join(docRep, Seq("doc_id"), "left")
        .select(col("doc_id"), col("shs"), col("reps.h").as("rh"), col("reps.df").as("rdf"))
        .as[(Long, Array[Long], Array[Long], Array[Long])]
        .flatMap { case (id, shs, rh, rdf) =>
          TextKernels.prefixSelect(shs, rh, rdf, tau).iterator.map(h => (id, h))
        }
        .toDF("doc_id", "h")
      assert(kernel.exceptAll(sqlPrefix).count() == 0, s"tau=$tau: kernel minus sql")
      assert(sqlPrefix.exceptAll(kernel).count() == 0, s"tau=$tau: sql minus kernel")
      payload.unpersist()
    }
  }

  test("prefixSelect equals the naive sort-everything reference, repeated-heavy corpora included") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 300) {
      // corpus of up to 6 docs over a small hash universe so shingles
      // repeat across docs often — including docs whose singles run
      // out (prefix spills into the repeated tail)
      val nDocs = 1 + rnd.nextInt(6)
      val universe = (1 to (4 + rnd.nextInt(12))).map(_ => rnd.nextLong()).distinct.toArray
      val corpus = Vector.fill(nDocs) {
        val sz = 1 + rnd.nextInt(universe.length)
        rnd.shuffle(universe.toVector).take(sz).sorted.toArray
      }
      val df = corpus.flatten.groupBy(identity).map { case (h, o) => h -> o.size.toLong }
      val tau = Seq(0.8, 0.9, 0.5)(rnd.nextInt(3))
      corpus.foreach { shs =>
        val sz = shs.length
        val k = math.max(0, math.min(sz, (sz - math.ceil(sz * tau).toLong + 1L).toInt))
        val naive = shs
          .map(h => (df(h).max(1L), h))
          .sorted
          .take(k)
          .map(_._2)
        val reps = shs.filter(h => df(h) >= 2)
        val repH = rnd.shuffle(reps.toVector).toArray // collect_list order is arbitrary
        val repDf = repH.map(df)
        val got = TextKernels.prefixSelect(shs, repH, repDf, tau)
        assert(got.toSeq == naive.toSeq, s"trial=$trial tau=$tau shs=${shs.toSeq}")
      }
    }
    // explicit edges: no repeated shingles (null arrays), all repeated
    assert(TextKernels.prefixSelect(Array(3L, 9L), null, null, 0.9).toSeq == Seq(3L))
    assert(
      TextKernels.prefixSelect(Array(-5L, 2L), Array(2L, -5L), Array(3L, 2L), 0.5).toSeq
        == Seq(-5L, 2L)) // k=2 > 0 singles: both from repeated, by (df, h)
  }

  test("qualityScore is exact on a ~600 kB document (the x2e6 scaling step used to overflow LONG)") {
    val sp = spark
    import sp.implicits._
    import graft.functions.TextFunctions
    // n*c ~ 1.3e4 * 6e5 = 8e9 -> old num*2000000 ~ 8e17*2e6 per-term
    // magnitudes pushed the LONG product past Long.MaxValue; ANSI would
    // kill the query on this single document
    val phrase = "the quick brown fox jumps over the lazy dog "
    val text = phrase * (600000 / phrase.length)
    val got = Seq((1L, text)).toDF("doc_id", "text")
      .select(TextFunctions.qualityScore(col("text")).as("q"))
      .collect()(0).getDouble(0)
    // BigInt reference over the same component definitions (wsTokens =
    // split-by-single-space keeping empties; a = chars in [a-z ])
    val parts = text.split(" ", -1)
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "that")
    val n = BigInt(parts.length)
    val c = BigInt(text.length)
    val s = BigInt(parts.count(stop))
    val a = BigInt(text.count(ch => (ch >= 'a' && ch <= 'z') || ch == ' '))
    val num = 40 * s * c + 3 * ((c - n + 1) * c).min(10 * n * c) + 30 * a * n
    val den = 100 * n * c
    val expected = ((num * 2000000 + den) / (den * 2)).toDouble / 1000000.0
    assert(got == expected, s"got $got, BigInt reference $expected")
    assert(got >= 0.0 && got <= 1.0)
  }
}
