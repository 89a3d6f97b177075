package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.Expression

/** The graft native expressions, reached through [[column]] as
  * Columns: building one never reads or writes a session's function
  * registry.
  */
object GraftFunctions {

  /** (name, arity, builder): every graft function. */
  val table: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("fnv1a64", 1, e => Fnv1a64(e.head)),
    ("dot_f32", 2, e => DotF32(e.head, e(1))),
    ("simhash64", 1, e => SimHash64(e.head)),
    ("minhash_sig", 3, e => MinhashSig(e.head, e(1), e(2))),
    ("srp_sig", 2, e => SrpSig(e.head, e(1))),
    ("ivf_cell", 2, e => IvfCell(e.head, e(1))),
    ("canonical_url", 1, e => CanonicalUrl(e.head)))

  /** The [[table]] function `name` applied to `args`. A wrong argument
    * count is a clean error naming the function rather than an
    * IndexOutOfBounds.
    */
  def column(name: String, args: Column*): Column = {
    val (_, n, build) = table.find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(s"no graft function named $name"))
    require(args.length == n,
      s"$name requires exactly $n argument(s), got ${args.length}")
    GraftColumns.column(build(args.map(GraftColumns.expression)))
  }
}
