package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-idiomatic library integration point and the ONLY place a fused
  * graft expression gets a SQL name:
  *
  * {{{ --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * — the same `SparkSessionExtensions` mechanism Iceberg and Delta use —
  * so SQL-text users (spark-sql, Thrift server, notebooks) get the
  * compiled hot-path functions. Injection happens at session build,
  * before any query parses, and applies to every session cloned from the
  * builder. The Column API (`graft.functions.*`) needs none of this: it
  * builds each expression directly, and no library call reads or writes
  * the session function registry.
  *
  * `graft_srp_bucket(emb [, nPlanes [, planeOffset]])` folds its plane
  * arguments at registration (they parameterize codegen, so they must be
  * literals — the same contract as the Column API's Int parameters).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    sqlFunctions.foreach { case (name, arities, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => {
          require(arities.contains(exprs.length),
            s"$name expects ${arities.mkString("..")} arguments, got ${exprs.length}")
          try build(exprs) catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"$name: ${e.getMessage}", e)
          }
        }))
    }
}

object GraftExtensions {
  /** (SQL name, accepted argument counts, builder) of every fused
    * expression. Input types are checked at analysis by each expression's
    * `inputTypes`.
    */
  val sqlFunctions: Seq[(String, Range, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", 2 to 2, es => CosineSim(es(0), es(1))),
    ("go_json_escape", 1 to 1, es => GoJsonEscape(es(0))),
    ("graft_parse_vals", 1 to 1, es => ParseVals(es(0))),
    ("graft_map_rows", 2 to 2, es => MapRows(es(0), es(1))),
    ("graft_minhash_sig", 1 to 1, es => MinHashSig(es(0))),
    ("graft_simhash_sig", 1 to 1, es => SimHashSig(es(0))),
    ("graft_shingle_set", 1 to 1, es => ShingleSet(es(0))),
    ("graft_srp_bucket", 1 to 3, es => SrpBucket(es(0),
      if (es.length > 1) litInt(es(1), "nPlanes") else 8,
      if (es.length > 2) litInt(es(2), "planeOffset") else 0)))

  private def litInt(e: Expression, arg: String): Int = {
    require(e.foldable, s"$arg must be a literal integer, got $e")
    e.eval() match {
      case i: Int => i
      // exact: an out-of-Int-range bigint plane argument must error, not
      // silently wrap (ADVICE r05)
      case l: Long => try Math.toIntExact(l) catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"$arg must be a literal integer in Int range, got $l")
      }
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$arg must be a literal integer, got $other")
    }
  }
}
