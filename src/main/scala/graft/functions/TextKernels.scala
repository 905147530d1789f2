package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side text/sketch kernels for the dedup pipelines — tight
  * primitive loops run inside `mapPartitions`/`flatMap`, replacing the
  * wide codegen'd DAGs (posexplode + K lead-windows + dropDuplicates +
  * 64 min-aggregates) whose dominant cost at bench scale is janino
  * compilation of the generated 64-aggregate methods, not data.
  *
  * Every hash here goes through Spark's own [[XXH64]] with the SQL
  * default seed 42 and the SQL fold order, so the signatures and LSH
  * band keys are BIT-IDENTICAL to the previous
  * `xxhash64(...)`-expression pipeline (asserted by TextKernelsSpec) —
  * swapping the implementation cannot change any query's result set.
  *
  * Scale posture: each kernel is per-document work inside one narrow
  * stage (no shuffle); the downstream candidate generation stays a
  * bucketed band-key equi-join exactly as before.
  */
object TextKernels {

  /** SQL `xxhash64` default seed. */
  final val HashSeed = 42L

  /** `split(text, ' ')` with Spark semantics (limit -1: empties kept). */
  def wsTokens(text: String): Array[String] = text.split(" ", -1)

  /** Distinct word-`k`-shingles in first-occurrence order — the exact
    * string set of the SQL pipeline `posexplode(split(text,' ')) →
    * lead×(k-1) → concat_ws(' ') → dropDuplicates`.
    */
  def distinctShingles(text: String, k: Int): Array[String] = {
    val toks = wsTokens(text)
    if (toks.length < k) return Array.empty
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Positional word-`k`-grams: `(pos, tokens[pos..pos+k-1] joined by
    * one space)` for every pos in `[0, n_tokens − k]` — the exact rows
    * of the SQL pipeline `posexplode(split(text,' ')) → lead×(k−1)
    * over (doc, pos) → filter(last lead non-null) → concat_ws(' ')`,
    * WITHOUT the hash exchange + sort that windowed leads force on the
    * whole corpus (empty tokens from repeated spaces are kept, exactly
    * like split's limit −1 and concat_ws over non-null args).
    */
  def posGrams(text: String, k: Int): Iterator[(Int, String)] = {
    val toks = wsTokens(text)
    if (toks.length < k) Iterator.empty
    else new Iterator[(Int, String)] {
      private var i = 0
      private val sb = new java.lang.StringBuilder
      override def hasNext: Boolean = i + k <= toks.length
      override def next(): (Int, String) = {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val out = (i, sb.toString)
        i += 1
        out
      }
    }
  }

  /** SQL `xxhash64(stringCol)`: XXH64 over the UTF-8 bytes, seed 42. */
  def hashString(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), HashSeed)

  /** Most shingles one document may have in [[shingleHashes]]: its
    * dedup table holds twice that many slots, and 2^30 is the largest
    * power of two an `Int`-indexed array can have.
    */
  val MaxShingles: Int = 1 << 29

  /** Slots of [[shingleHashes]]' open-addressed dedup table for `n`
    * shingles: the smallest power of two ≥ 2n (at least 4), sized in
    * `Long` so it cannot overflow. Above [[MaxShingles]] it throws,
    * because an `Int` table that large would overflow and its probe
    * loop would never end.
    */
  def dedupTableCapacity(n: Int): Int = {
    if (n > MaxShingles)
      throw new IllegalArgumentException(
        s"shingleHashes: $n shingles in one document exceed the limit of $MaxShingles")
    var cap = 4L
    while (cap < 2L * n) cap <<= 1
    cap.toInt
  }

  /** Sorted distinct shingle hashes of a document (sorted so pairwise
    * intersection is a linear merge).
    *
    * Allocation-free form of `distinctShingles(text, k).map(hashString)`:
    * `split(" ", -1)` splits on every single space, so the original
    * text IS its tokens joined by one space, and a k-token shingle's
    * UTF-8 bytes are EXACTLY a slice of the document's UTF-8 bytes —
    * hash the slice (XXH64 over the same bytes ⇒ the same value) and
    * never build the shingle string. A space byte (0x20) is always the
    * character ' ' in UTF-8 (continuation bytes are ≥ 0x80), so token
    * boundaries come from one byte scan. Dedup is by BYTE equality
    * (open addressing on the hash, slices compared on hash match), so
    * even two distinct shingles colliding at 64 bits keep both hash
    * copies — the literal multiset `distinctShingles → hash` produced.
    * (TextKernelsSpec: equality vs the string path on random
    * unicode/multi-space docs, and vs the SQL pipeline on the corpus.)
    *
    * Precondition: `text` is well-formed UTF-16. UTF-8 encoding turns
    * every unpaired surrogate into '?', so shingles that differ only
    * there (or by a literal '?') have equal bytes: this dedup keeps one
    * hash where the string path keeps one per distinct string. At most
    * 2^29 shingles per document ([[dedupTableCapacity]]).
    */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val nBytes = bytes.length
    // token start offsets (token i spans [starts(i), starts(i+1) - 1))
    var nToks = 1
    var p = 0
    while (p < nBytes) { if (bytes(p) == 0x20) nToks += 1; p += 1 }
    if (nToks < k) return Array.emptyLongArray
    val starts = new Array[Int](nToks + 1)
    var t = 1
    p = 0
    while (p < nBytes) { if (bytes(p) == 0x20) { starts(t) = p + 1; t += 1 }; p += 1 }
    starts(nToks) = nBytes + 1 // sentinel: end(last) = starts(nToks) - 1
    val n = nToks - k + 1
    // open-addressed dedup table over kept-shingle indices
    val cap = dedupTableCapacity(n)
    val table = new Array[Int](cap)
    java.util.Arrays.fill(table, -1)
    val mask = cap - 1
    val outH = new Array[Long](n)
    val outS = new Array[Int](n)
    val outE = new Array[Int](n)
    var outN = 0
    var i = 0
    while (i < n) {
      val s = starts(i)
      val e = starts(i + k) - 1
      val h = XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, e - s, HashSeed)
      var slot = (java.lang.Long.hashCode(h) & Int.MaxValue) & mask
      var dup = false
      var o = table(slot)
      while (o != -1 && !dup) {
        if (outH(o) == h && java.util.Arrays.equals(bytes, outS(o), outE(o), bytes, s, e))
          dup = true
        else { slot = (slot + 1) & mask; o = table(slot) }
      }
      if (!dup) {
        table(slot) = outN
        outH(outN) = h; outS(outN) = s; outE(outN) = e
        outN += 1
      }
      i += 1
    }
    val out = if (outN == n) outH else java.util.Arrays.copyOf(outH, outN)
    java.util.Arrays.sort(out)
    out
  }

  /** Per-permutation seeds replicating SQL `xxhash64(lit(i), h)`: the
    * expression folds children left-to-right, so its value is
    * `hashLong(h, hashInt(i, 42))` — precompute the inner term.
    */
  private def permSeeds(perms: Int): Array[Long] = {
    val s = new Array[Long](perms)
    var i = 0
    while (i < perms) { s(i) = XXH64.hashInt(i, HashSeed); i += 1 }
    s
  }

  /** MinHash signature: perm i = min over shingle hashes h of
    * `hashLong(h, seed_i)` — bit-identical to the previous
    * `min(xxhash64(lit(i), h))` 64-aggregate plan.
    */
  def minhashSig(hashes: Array[Long], perms: Int): Array[Long] = {
    val seeds = permSeeds(perms)
    val sig = new Array[Long](perms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < hashes.length) {
      val h = hashes(j)
      var i = 0
      while (i < perms) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** LSH band keys replicating SQL
    * `xxhash64(lit(b), slice(sig, b*rpb+1, rpb))` (array args hash
    * element-wise in order): `fold hashLong over the slice, seeded with
    * hashInt(b, 42)`.
    */
  def bandKeys(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, HashSeed)
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(sig(b * rowsPerBand + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Coarse LSH bucket of one document: band 0 of its MinHash
    * signature. Computes ONLY the first `rowsPerBand` permutations —
    * [[minhashSig]]'s per-permutation seeds are a stable prefix, so
    * this equals `bandKeys(minhashSig(shs, perms), bands,
    * rowsPerBand)(0)` for any perms ≥ rowsPerBand at 1/bands of the
    * hashing cost (asserted by TextKernelsSpec). None when the doc is
    * too short to shingle.
    */
  def docBandKey(text: String, k: Int, rowsPerBand: Int): Option[Long] = {
    val shs = shingleHashes(text, k)
    if (shs.isEmpty) None
    else Some(bandKeys(minhashSig(shs, rowsPerBand), 1, rowsPerBand)(0))
  }

  /** [[docBandKey]] in a Java-callable shape for expression codegen:
    * boxed Long, null instead of None (generated Java can't unwrap a
    * Scala Option without reflection noise).
    */
  def docBandKeyBoxed(text: String, k: Int, rowsPerBand: Int): java.lang.Long =
    docBandKey(text, k, rowsPerBand).map(Long.box).orNull

  /** Intersection size of two SORTED long arrays (linear merge). */
  def intersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** PPJoin rare-prefix selection: the `sz − ⌈τ·sz⌉ + 1` smallest
    * shingles of one document under the global (df, h) total order,
    * given the doc's sorted hash set `shs` and the (h, df) pairs of
    * just its REPEATED shingles (global df ≥ 2; aligned arrays, any
    * order — null/empty when the doc has none).
    *
    * Replicates the former relational pipeline literally —
    * `slice(array_sort(collect_list(struct(coalesce(df,1), h))), 1, k)`
    * with `k = sz − ceil(sz·τ) + 1` — without collecting the full
    * per-doc shingle list: every df=1 shingle sorts before every
    * repeated one, and within df=1 the order is `h` ascending, i.e.
    * exactly the order of `shs` minus the repeated set. So the prefix
    * is the first k such singles, topped up from the repeated pairs
    * sorted by (df, h) only when the singles run out. `k` uses the
    * same double `ceil` the SQL expression evaluates (one IEEE
    * multiply + ceil), so the cut index is bit-identical.
    * (TextKernelsSpec asserts equality against the verbatim former
    * plan, repeated-heavy corpora included.)
    */
  def prefixSelect(
      shs: Array[Long], repH: Array[Long], repDf: Array[Long], tau: Double): Array[Long] = {
    val sz = shs.length
    val k0 = (sz.toLong - math.ceil(sz * tau).toLong + 1L).toInt
    val k = math.min(math.max(k0, 0), sz)
    if (k == 0) return Array.emptyLongArray
    val nRep = if (repH == null) 0 else repH.length
    val byH = Array.range(0, nRep).sortBy(repH(_))
    val out = new Array[Long](k)
    var n = 0
    var i = 0
    var j = 0
    while (i < sz && n < k) {
      while (j < nRep && repH(byH(j)) < shs(i)) j += 1
      if (j < nRep && repH(byH(j)) == shs(i)) j += 1 // repeated: not a single
      else { out(n) = shs(i); n += 1 }
      i += 1
    }
    if (n < k) {
      val byDfH = Array.range(0, nRep).sortBy(x => (repDf(x), repH(x)))
      var t = 0
      while (n < k && t < nRep) { out(n) = repH(byDfH(t)); n += 1; t += 1 }
    }
    // n == k here: each repeated shingle matched above consumed one of
    // the nRep pairs, so singles + nRep >= sz >= k and the top-up fills
    // the prefix
    out
  }

  /** Positions where two equal-length signatures agree. */
  def sigAgreement(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var n = 0
    while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  /** (nTokens, nDistinctTokens, topBigramCount) over whitespace tokens
    * — the inputs of the Gopher-style repetition quality filters.
    * topBigramCount is 0 when the doc has fewer than 2 tokens.
    */
  def repetitionStats(text: String): (Long, Long, Long) = {
    val toks = wsTokens(text)
    val n = toks.length
    val distinct = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { distinct.add(toks(i)); i += 1 }
    var top = 0
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Integer](n * 2)
      var j = 0
      while (j + 1 < n) {
        val c = counts.merge(toks(j) + " " + toks(j + 1), 1, (a, b) => a + b)
        if (c > top) top = c
        j += 1
      }
    }
    (n.toLong, distinct.size.toLong, top.toLong)
  }

  /** Regex tokens (lowercased alnum runs, empties dropped) — Spark
    * `split(lower(text), "[^a-z0-9]+")` + non-empty filter semantics.
    *
    * LOCALE CONTRACT: this kernel lowercases with Locale.ROOT
    * (deterministic everywhere), while Spark's `lower()` — and any
    * oracle column built on it — falls back to `String.toLowerCase()`
    * under the JVM DEFAULT locale for non-ASCII input. On a tr/az
    * default-locale JVM the dotted/dotless-I mappings differ (U+0130
    * 'İ' → 'i' vs 'i' + U+0307), which splits tokens differently and
    * shifts simhash/near-dup signatures between the kernel and
    * expression paths. Deployments must run executors with a
    * ROOT-compatible default locale (every graft builder and the test
    * JVM do); the kernel deliberately does NOT follow the default
    * locale, because a signature that changes with JVM locale would
    * make persisted dedup state non-portable.
    */
  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")
  def reTokens(text: String): Array[String] =
    NonAlnum.split(text.toLowerCase(java.util.Locale.ROOT), -1).filter(_.nonEmpty)

  /** 64-bit SimHash over xxhash64'd regex tokens: bit j set iff more
    * than half the tokens have bit j set — bit-identical to the
    * previous 64-bit-sum aggregate plan (which hashed the same tokens
    * with the same SQL xxhash64).
    */
  def simhashSig(text: String): Long = simhashSigOf(reTokens(text))

  /** SimHash over pre-tokenized input (lets callers tokenize once for
    * both an emptiness guard and the signature). */
  def simhashSigOf(toks: Array[String]): Long = {
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = hashString(toks(t))
      var j = 0
      while (j < 64) {
        counts(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) * 2 > toks.length) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Merge-table key for a BPE token pair. Merges are keyed by the
    * token PAIR (separator-joined), never by concatenation: once
    * tokens are multi-character, "ab"+"c" and "a"+"bc" concatenate to
    * the same string but are different merges, and a concat-keyed
    * table would apply one where the other was learned. The separator
    * is a SPACE because that is the one character that provably cannot
    * occur inside a token here: every token reaching this key comes
    * from [[wsTokens]]' space-split (and BPE sub-segments thereof). A
    * NUL separator — the previous choice — was actually WEAKER: split
    * removes only spaces, so a binary-contaminated document can put a
    * literal NUL inside a token and alias two different merges to one
    * key (besides making this source file binary to git/grep).
    */
  @inline def bpePairKey(a: String, b: String): String = a + ' ' + b

  /** BPE segmentation: start from single characters and repeatedly
    * apply the BEST-RANKED merge present anywhere in the token
    * sequence — merging every left-to-right occurrence of that pair —
    * until no adjacent pair is in the rank table. These are the
    * standard BPE-encode mechanics (lowest rank = learned earliest =
    * applied first); the rank table (bpePairKey -> rank) is supplied
    * by the caller, so any depth of trained merge list plugs in.
    */
  def bpeSegment(word: String, ranks: Map[String, Int]): Array[String] = {
    var toks: Array[String] = word.map(_.toString).toArray
    var done = toks.length <= 1
    while (!done) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.getOrElse(bpePairKey(toks(i), toks(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        val a = toks(bestIdx)
        val b = toks(bestIdx + 1)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            out += a + b; j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.toArray
        done = toks.length <= 1
      }
    }
    toks
  }

  /** BPE encode, returning only the token count (see [[bpeSegment]]). */
  def bpeTokenCount(word: String, ranks: Map[String, Int]): Int =
    bpeSegment(word, ranks).length
}
