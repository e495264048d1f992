package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** The library's SQL function table: every (name, usage, builder)
  * written once. `graft.GraftExtensions` injects it into sessions
  * configured with `spark.sql.extensions=graft.GraftExtensions`; the
  * per-object `register(spark)` helpers [[install]] it into ad-hoc
  * sessions. Both paths bind the same builders, so plans are identical
  * either way. */
object GraftFunctions {

  final case class Fn(name: String, usage: String, builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
  }

  /** The overflow contract, carried on the unscaled-decimal functions
    * themselves (`DESCRIBE FUNCTION`) — a general SQL caller cannot be
    * assumed to have read `DecimalFastFunctions`' scaladoc. */
  private val decimalContract =
    " OVERFLOW CONTRACT: sum(unscaled_value(x)) accumulates a raw long " +
      "and WRAPS SILENTLY past 2^63 where sum(x) would null/error; the " +
      "caller must bound each group's sum of |unscaled(x)| below 2^63 " +
      "(safe for per-key money sums, NOT for global sums over unbounded " +
      "data). unscaled_value rejects DECIMAL(p>18) inputs at analysis time."

  val all: Seq[Fn] = Seq(
    Fn("vec_dot", "_FUNC_(a, b) - sequential-fold dot product",
      a => VecDot(a(0), a(1))),
    Fn("vec_dist_sq", "_FUNC_(a, b) - sequential-fold squared L2 distance",
      a => VecDistSq(a(0), a(1))),
    Fn("minhash_sig", "_FUNC_(tokens) - K-row minhash signature",
      a => MinhashSig(a(0), MinhashFunctions.DefaultK)),
    Fn("lsh_buckets", "_FUNC_(vec, planes) - per-table LSH bucket codes",
      a => LshBuckets(a(0), a(1))),
    Fn("sorted_intersect_size", "_FUNC_(a, b) - intersection size of two sorted arrays",
      a => SortedIntersectSize(a(0), a(1))),
    Fn("topk_by", "_FUNC_(score, id, k) - bounded-heap top-k aggregate", {
      case Seq(s, i, Literal(k: Int, IntegerType)) => TopKBy(s, i, k)
      case _ => throw new IllegalArgumentException(
        "topk_by(score double, id bigint, k int-literal)")
    }),
    Fn("vec_decimal_sum",
      "_FUNC_(array<decimal(38,9)>) - exact element-wise vector sum aggregate", {
        case Seq(v) => DecimalVecSum(v)
        case _ => throw new IllegalArgumentException("vec_decimal_sum(array<decimal(38,9)>)")
      }),
    Fn("kmv_minima", "_FUNC_(h, k) - k smallest distinct hashes (KMV sketch aggregate)",
      KmvFunctions.kmvBuilder),
    Fn("shingle_kmv", "_FUNC_(tokens, n, k) - per-document KMV sketch of n-token shingles",
      KmvFunctions.shingleBuilder),
    Fn("shingle_hashes", "_FUNC_(tokens, w) - every w-token window fingerprint, in order",
      SubstringDedupFunctions.hashesBuilder),
    Fn("remove_spans", "_FUNC_(tokens, starts, w) - drop tokens covered by removed windows",
      SubstringDedupFunctions.removeBuilder),
    Fn("email_extract_all", "_FUNC_(text) - default-pattern email matches (scanner, not regex)",
      TextScanFunctions.emailBuilder),
    Fn("email_extract_all_g",
      "_FUNC_(text) - production-pattern email matches (scanner, not regex)",
      TextScanFunctions.emailGeneralBuilder),
    Fn("pg_ctid_pack", "_FUNC_(page, row) - pack a ctid into bigint",
      a => PgCtidPack(a(0), a(1))),
    Fn("pg_ctid_unpack", "_FUNC_(packed) - unpack bigint to (page, row)",
      a => PgCtidUnpack(a.head)),
    Fn("pg_ctid_text", "_FUNC_(packed) - ctid as '(page,row)' text",
      a => PgCtidText(a.head)),
    Fn("exact_pcts",
      "_FUNC_(v, p1, p2, ...) - exact percentiles of a double column (double-literal ps)",
      ExactPercentilesFunctions.builder),
    Fn("unscaled_value",
      "_FUNC_(d) - the unscaled long of a compact decimal (precision <= 18), " +
        "for primitive-long aggregation." + decimalContract,
      DecimalFastFunctions.unscaledBuilder),
    Fn("sum_unscaled_safe",
      "_FUNC_(l, p, s) - exact DECIMAL(p, s) sum of unscaled bigints over an " +
        "all-primitive (cnt*2^60 + acc) accumulator; no per-group bound needed " +
        "(unlike a raw sum(unscaled_value(x))), nulls past DECIMAL(p) capacity. " +
        "Inputs must be unscaled values of compact decimals (|l| <= 2^60)." +
        decimalContract,
      DecimalFastFunctions.safeSumBuilder),
    Fn("make_decimal",
      "_FUNC_(l, p, s) - rebuild DECIMAL(p, s) from an unscaled long (the inverse " +
        "of unscaled_value, applied per group after the sum)." + decimalContract,
      DecimalFastFunctions.makeDecimalBuilder))

  /** Bind every function the session does not already bind. A session
    * built with `GraftExtensions`, or one a helper has already set up,
    * is left unchanged, so repeated calls are free and never replace a
    * registered function (the install-if-absent pattern of Pathling's
    * `SqlStrategy.setup`). */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.builder)
    }
  }
}
