package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.graftshim.ColumnExpressions

/** graft's SQL functions, one row each: the name SQL resolves, the
  * class `DESCRIBE FUNCTION` reports, and the builder from argument
  * expressions. Three readers, no other registration path:
  *  - [[graft.GraftExtensions]] injects every row into sessions built
  *    with `spark.sql.extensions=graft.GraftExtensions`;
  *  - [[install]] registers every row into a running session;
  *  - [[call]] builds the expression straight from Column arguments,
  *    so operators never depend on what a session has registered.
  *
  * Builders only check arity; argument types are checked in each
  * expression's `checkInputDataTypes`, because [[call]] hands the
  * builder unresolved children.
  */
object SqlFunctions {
  type Builder = Seq[Expression] => Expression

  private def fn(name: String, cls: Class[_], arity: Int)(
      make: Seq[Expression] => Expression): (String, Class[_], Builder) =
    (name, cls, args => {
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}, got ${args.length}")
      make(args)
    })

  val table: Seq[(String, Class[_], Builder)] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity], 2)(a => CosineSimilarity(a(0), a(1))),
    fn("dot_product", classOf[DotProduct], 2)(a => DotProduct(a(0), a(1))),
    fn("usable_vec", classOf[UsableVec], 2)(a => UsableVec(a(0), a(1))),
    fn("word_shingles", classOf[WordShingles], 2)(a => WordShingles(a(0), a(1))),
    fn("word_shingle_hashes", classOf[WordShingleHashes], 2)(a => WordShingleHashes(a(0), a(1))),
    fn("minhash_sig", classOf[MinHashSig], 2)(a => MinHashSig(a(0), a(1))),
    fn("minhash_poly_sig", classOf[MinHashPolySig], 2)(a => MinHashPolySig(a(0), a(1))),
    fn("simhash64", classOf[SimHash64], 1)(a => SimHash64(a(0))),
    fn("simhash_poly", classOf[SimHashPoly], 1)(a => SimHashPoly(a(0))),
    fn("poly_hash", classOf[PolyHashStr], 1)(a => PolyHashStr(a(0))),
    fn("winnow_fps", classOf[WinnowFps], 3)(a => WinnowFps(a(0), a(1), a(2))),
    fn("char_ngram_hashes", classOf[CharNgramHashes], 2)(a => CharNgramHashes(a(0), a(1))),
    fn("char_ngram_profile", classOf[CharNgramProfile], 3)(a => CharNgramProfile(a(0), a(1), a(2))),
    fn("oop_distance", classOf[OopDistance], 3)(a => OopDistance(a(0), a(1), a(2))),
    fn("gopher_rep_measures", classOf[GopherRepMeasures], 1)(a => GopherRepMeasures(a(0))),
    fn("fx_dot", classOf[SparseFxDot], 2)(a => SparseFxDot(a(0), a(1))),
    fn("fx_grad", classOf[FxGradAgg], 3)(a => FxGradAgg(a(0), a(1), a(2))),
    // Spark's own Bloom-filter pair (the sketch behind runtime filters):
    // bloom_agg(xxhash64 long, est_items, num_bits) builds one BINARY
    // filter; bloom_might_contain(filter literal, xxhash64 long) probes
    // it, with no false negatives.
    fn("bloom_agg", classOf[BloomFilterAggregate], 3)(a => new BloomFilterAggregate(a(0), a(1), a(2))),
    fn("bloom_might_contain", classOf[BloomFilterMightContain], 2)(a => BloomFilterMightContain(a(0), a(1))))

  private lazy val builders: Map[String, Builder] =
    table.map { case (name, _, build) => name -> build }.toMap

  /** Registers every function into `spark`'s registry. Idempotent: a
    * name already present is left alone, so repeat calls neither
    * replace a builder nor log Spark's re-registration warning. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, cls, build) <- table) {
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
    }
  }

  /** The function `name` applied to `args`, built without a session
    * lookup. Aggregates are wrapped the way the analyzer wraps a
    * by-name aggregate call. */
  def call(name: String, args: Column*): Column = {
    val build = builders.getOrElse(name,
      throw new IllegalArgumentException(s"$name is not a graft SQL function"))
    ColumnExpressions.column(build(args.map(ColumnExpressions.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }
}
