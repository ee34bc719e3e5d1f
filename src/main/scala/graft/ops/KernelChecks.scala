package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType

/** The kernels' input checks; a kernel reports the first that fails. */
private[ops] object KernelChecks {
  import TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}

  def first(checks: TypeCheckResult*): TypeCheckResult =
    checks.find(_.isFailure).getOrElse(TypeCheckSuccess)

  def argument(ok: Boolean, failure: => String): TypeCheckResult =
    if (ok) TypeCheckSuccess else TypeCheckFailure(failure)

  /** every text kernel's column check */
  def string(pretty: String, columns: Expression*): TypeCheckResult =
    first(columns.map(c => argument(c.dataType == StringType,
      s"$pretty requires a string argument, got ${c.dataType.catalogString}")): _*)

  /** the n-gram width of `simhash_ngram64`, `shingle_hashes` and `gram_hashes` */
  def width(pretty: String, width: Int): TypeCheckResult =
    argument(width >= 1, s"$pretty width must be >= 1")
}
