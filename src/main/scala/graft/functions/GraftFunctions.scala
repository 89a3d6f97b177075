package graft.functions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** The graft native expressions, one table for every way of reaching
  * them. Library code builds them as Columns with [[column]], which
  * never reads or writes a session's function registry. SQL reaches
  * them by name once they are installed: [[register]] on an existing
  * session, or `spark.sql.extensions=graft.functions.GraftExtensions`
  * at session build.
  */
object GraftFunctions {

  /** (name, arity, builder): every graft function. */
  val table: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("extract_tokens", 1, e => ExtractTokens(e.head)),
    ("fnv1a64", 1, e => Fnv1a64(e.head)),
    ("dot_f32", 2, e => DotF32(e.head, e(1))),
    ("simhash64", 1, e => SimHash64(e.head)),
    ("minhash_sig", 3, e => MinhashSig(e.head, e(1), e(2))),
    ("srp_sig", 2, e => SrpSig(e.head, e(1))),
    ("ivf_cell", 2, e => IvfCell(e.head, e(1))),
    ("canonical_url", 1, e => CanonicalUrl(e.head)),
    // Spark's OWN runtime-filter expression (the one AQE injects for
    // shuffle pruning), surfaced by name: bloom_might_contain(<foldable
    // binary bloom blob>, <xxhash64 long>). It keeps the Bloom
    // prefilter of bloomContamination inside codegen instead of a
    // per-gram Scala UDF — same class the engine trusts for its own
    // runtime filters, zero custom kernel code.
    ("bloom_might_contain", 2, e => BloomFilterMightContain(e.head, e(1))))

  /** `build` behind an argument-count check, so a wrong arity is a clean
    * error naming the function rather than an IndexOutOfBounds.
    */
  private[functions] def checked(name: String, n: Int,
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name requires exactly $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  /** The [[table]] function `name` applied to `args`: the same
    * expression that SQL gets from [[register]], with no session
    * involved.
    */
  def column(name: String, args: Column*): Column = {
    val (_, n, build) = table.find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(s"no graft function named $name"))
    GraftColumns.column(
      checked(name, n, build)(args.map(GraftColumns.expression)))
  }

  /** Installs every [[table]] function in `spark`'s registry, replacing
    * any function of the same name: the SQL surface, for callers who
    * ask for it. Library code uses [[column]] instead.
    */
  def register(spark: SparkSession): Unit = table.foreach { case (name, n, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, checked(name, n, build), "built-in")
  }
}

/** Session extensions: `spark.sql.extensions=graft.functions.GraftExtensions`
  * injects every function of [[GraftFunctions.table]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, n, build) =>
      val b = GraftFunctions.checked(name, n, build)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(b.getClass.getName, name), b))
    }
}
