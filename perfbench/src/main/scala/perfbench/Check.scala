package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame

/** Order-independent fingerprint of a relation: the row count and the
  * wrapping sum of a 64-bit hash of each row's canonical text. Dropping,
  * duplicating or changing any one row changes it.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  override def toString: String = f"rows=$rows hash=$hash%016x"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L)

  def canonical(values: Seq[Any]): String =
    values.map(v => if (v == null) "␀" else v.toString).mkString("\u0001")

  def rowHash(values: Seq[Any]): Long = {
    val s = canonical(values)
    (MurmurHash3.stringHash(s, 0x2F0B3A49).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x7E5C1D93).toLong & 0xFFFFFFFFL)
  }

  def of(rows: IterableOnce[Seq[Any]]): Fingerprint =
    rows.iterator.foldLeft(empty)((f, r) => Fingerprint(f.rows + 1, f.hash + rowHash(r)))

  /** Fingerprint of `df`'s columns `cols`, in that order, computed on the
    * executors; only one small partial result per partition is collected.
    */
  def of(df: DataFrame, cols: Seq[String]): Fingerprint =
    df.select(cols.map(df.col): _*).rdd
      .mapPartitions(it => Iterator(of(it.map(_.toSeq))))
      .collect().foldLeft(empty)(_ + _)
}

/** The outcome of one output check: what was expected, what landed. */
final case class CheckResult(name: String, expected: String, actual: String) {
  def ok: Boolean = expected == actual
  override def toString: String =
    if (ok) s"$name ok ($actual)" else s"$name MISMATCH expected [$expected] got [$actual]"
}
