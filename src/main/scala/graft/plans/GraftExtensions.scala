package graft.plans

import graft.functions.{CosineSimilarity, TextExprs, VectorKernels}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.StaticSQLConf

/** SparkSessionExtensions entry point: registers the engine's native
  * expression library for SQL use. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * Registered functions (all codegen'd Catalyst expressions — the same
  * kernels the DataFrame operators run, so SQL-path == DataFrame-path
  * bit-for-bit, asserted by GraftSqlSpec):
  *
  *  - `cosine_sim(a, b)`     — cosine over float/double arrays
  *  - `l2sq(a, b)`           — squared L2 distance (long/float/double arrays)
  *  - `vec_dot(a, b)`        — dot product (long arrays → long, else double)
  *  - `pq_argmin(sq, cb)`    — nearest PQ codebook entry: struct(d2, cell)
  *  - `simhash64(text)`      — 64-bit SimHash document signature
  *  - `minhash_band(text, r)` — coarse MinHash LSH bucket (5-word shingles)
  *
  * Plus the [[NanosRangePushdown]] optimizer rule (natural-form
  * timestamp predicates pushed into raw-nanos parquet scans) and the
  * [[FooterRangeAggregates]] rule, the only path that answers graft
  * aggregates from parquet footers: a session without this extension
  * always scans.
  *
  * It also sizes Spark's cache of compiled generated classes
  * (`spark.sql.codegen.cache.maxEntries`, default 100) to
  * [[GraftExtensions.CodegenCacheFloor]] in the active SparkContext's
  * conf, unless the user set it there. The cache is one LRU per JVM,
  * and the registered queries generate more classes than 100: perfbench
  * query_sweep's 18 queries alone need about 410, so each of its passes,
  * reading them in a cycle through 100 entries, compiled them again
  * (315 classes, 4.6 s of Janino in a 17 s pass at seed 905 on 4
  * cores). Spark reads the size once, when the JVM compiles its first
  * generated class, so a JVM that compiled generated code before its
  * first graft session keeps the size it started with.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(
      e: SparkSessionExtensions,
      name: String,
      clazz: Class[_],
      arity: Int,
      build: Seq[Expression] => Expression): Unit =
    e.injectFunction(
      (
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$name expects $arity arguments, got ${children.length}")
          build(children)
        }
      )
    )

  override def apply(e: SparkSessionExtensions): Unit = {
    // the builder applies extensions after it creates the SparkContext
    // and before the session copies the context's conf into its SQLConf
    Bridge.setContextConfIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, GraftExtensions.CodegenCacheFloor.toString)
    register(e, "cosine_sim", classOf[CosineSimilarity], 2,
      c => CosineSimilarity(c(0), c(1)))
    register(e, "l2sq", classOf[VectorKernels.L2Squared], 2,
      c => VectorKernels.L2Squared(c(0), c(1)))
    register(e, "vec_dot", classOf[VectorKernels.DotProduct], 2,
      c => VectorKernels.DotProduct(c(0), c(1)))
    register(e, "pq_argmin", classOf[VectorKernels.PqArgmin], 2,
      c => VectorKernels.PqArgmin(c(0), c(1)))
    register(e, "simhash64", classOf[TextExprs.SimHash64], 1,
      c => TextExprs.SimHash64(c(0)))
    register(e, "minhash_band", classOf[TextExprs.MinhashBand], 2,
      c => TextExprs.MinhashBand(c(0), c(1)))
    e.injectOptimizerRule(_ => NanosRangePushdown)
    // once-batch, post-V2-pushdown: footer-answered aggregates, with or
    // without a WHERE (a WHERE always leaves a Filter above the graft
    // relation, which only a rule sees)
    e.injectPreCBORule(_ => FooterRangeAggregates)
  }
}

object GraftExtensions {
  /** The size of Spark's codegen cache in a graft session whose user
    * set none: the next power of two above the 1,563 distinct classes
    * one `graft.Verify` run at sf0.01 compiles over every registered
    * query (4 cores, counted with a cache too large to evict). With the
    * default 100 entries the same run compiled 2,321 and 2,330 classes
    * (32 s of compile time; peak RSS 3,186 and 3,733 MB); at this size
    * it compiles 1,563 (21 s; peak RSS 3,384 MB).
    */
  val CodegenCacheFloor: Int = 2048
}
