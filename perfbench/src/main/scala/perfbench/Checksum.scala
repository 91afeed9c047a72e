package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive content fingerprint of a result: its row count and
  * the sum of a per-row xxhash64 (reduced mod a prime so the sum cannot
  * overflow). Columns are hashed in name order, so two plans that return
  * the same rows with their columns in a different order agree. */
final case class Checksum(rows: Long, hash: Long) {
  override def toString: String = s"(rows=$rows, hash=$hash)"
}

object Checksum {
  private val Prime = 1000000007L

  /** One aggregate job over `cols` of `df` (every column when empty). */
  def of(df: DataFrame, cols: Seq[String] = Nil): Checksum = {
    val use = (if (cols.isEmpty) df.columns.toSeq else cols).sorted
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(use.map(col): _*), lit(Prime))))
      .collect()(0)
    Checksum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** None when `got` matches `expected`; otherwise why it does not. */
  def mismatch(what: String, expected: Checksum, got: Checksum): Option[String] =
    if (expected == got) None
    else Some(s"$what: expected $expected, got $got")
}
