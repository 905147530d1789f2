package graft.plans

import graft.functions.{CosineSimilarity, TextExprs, VectorKernels}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

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
