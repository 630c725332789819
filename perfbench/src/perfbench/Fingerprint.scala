package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content fingerprint of a table: its row count and
  * the sums of two independent row hashes (64-bit xxhash and 32-bit
  * murmur3 over every named column). Sums commute, so two tables holding
  * the same multiset of rows agree whatever their file or partition
  * layout, and fingerprints combine: the fingerprint of a table after a
  * change is the old one minus the removed rows plus the added rows. */
final case class Fingerprint(rows: Long, xx: BigDecimal, murmur: BigDecimal) {
  def +(o: Fingerprint): Fingerprint =
    Fingerprint(rows + o.rows, xx + o.xx, murmur + o.murmur)
  def -(o: Fingerprint): Fingerprint =
    Fingerprint(rows - o.rows, xx - o.xx, murmur - o.murmur)
  override def toString: String = s"rows=$rows xx=$xx murmur=$murmur"
}

object Fingerprint {

  val empty: Fingerprint = Fingerprint(0L, BigDecimal(0), BigDecimal(0))

  /** Fingerprints of several tables in one Spark action. Each entry is
    * (name, table, the columns to hash by name, in that order). */
  def ofAll(tables: Seq[(String, DataFrame, Seq[String])])
      : Map[String, Fingerprint] = {
    val found = tables.map { case (name, df, columns) =>
      val cs = columns.map(c => col(s"`$c`"))
      df.select(lit(name).as("t"), xxhash64(cs: _*).as("xx"),
        hash(cs: _*).as("mm"))
    }.reduce(_ union _)
      .groupBy("t")
      .agg(count(lit(1)), sum(col("xx").cast("decimal(38,0)")),
        sum(col("mm").cast("decimal(38,0)")))
      .collect()
      .map(r => r.getString(0) -> Fingerprint(r.getLong(1),
        BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3))))
      .toMap
    tables.map { case (name, _, _) => name -> found.getOrElse(name, empty) }
      .toMap
  }

  /** Fingerprint of `df` over `columns` (by name, in that order). */
  def of(df: DataFrame, columns: Seq[String]): Fingerprint =
    ofAll(Seq(("t", df, columns)))("t")

  /** Fingerprint of `df` over all its columns in name order, so that
    * files written with their columns in another order agree. */
  def of(df: DataFrame): Fingerprint = of(df, df.columns.toSeq.sorted)
}
