package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, or 0 for no samples: a per-layer figure of a layer that did
    * no work. */
  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** A tail latency: the value, the percentile it sits at, and the sample
    * count it came from. */
  final case class Tail(value: Double, percentile: Double, n: Int) {
    def describe: String = f"p$percentile%.0f of $n samples"
  }

  /** The highest percentile with at least ten samples beyond it: of `n`
    * sorted samples, the (n-10)-th smallest has exactly ten above it, and
    * it sits at percentile 100 * (n-10) / n. With ten samples or fewer no
    * percentile qualifies; the maximum is reported, labelled p100. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) Tail(s.last, 100.0, n)
    else Tail(s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Order-independent digest of a DataFrame: the row count, the sum of a
    * 64-bit hash of each row's rendered values, and a sum of squares of a
    * reduced hash. Equal multisets of rows give equal digests. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")),
      sum((h % 1000003L).cast("decimal(38,0)") * (h % 1000003L).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Digest of already-collected rows (small results), order-independent:
    * the MD5 of the sorted rendered rows. */
  def digestRows(rows: Seq[org.apache.spark.sql.Row]): String = {
    val rendered = rows.map(r => r.toSeq.map(v => if (v == null) "\u0000null" else v.toString)
      .mkString("\u0001")).sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    s"${rows.size}:" + md.digest(rendered.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
