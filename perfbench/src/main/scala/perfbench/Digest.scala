package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Order-insensitive content digest of a query result: the row count
  * plus the sums of the low and high 32-bit halves of a 64-bit hash of
  * each row's string rendering. Row order and partitioning do not
  * change it; any changed, lost or duplicated row does (up to hash
  * collisions). Casting the row to a string first lets every column
  * type, maps and binaries included, take part. */
object Digest {
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private def aggregates(df: DataFrame): Seq[Column] = {
    val h = xxhash64(struct(df.columns.map(col).toSeq: _*).cast("string"))
    Seq(count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def render(n: Long, lo: Any, hi: Any): String =
    if (n == 0) "0:0:0" else s"$n:$lo:$hi"

  /** The digest, computed by one aggregation over `df`. */
  def of(df: DataFrame): String = {
    val p = positional(df)
    val aggs = aggregates(p)
    val r = p.agg(aggs.head, aggs.tail: _*).head()
    render(r.getLong(0), r.get(1), r.get(2))
  }

  /** Materialize `df` as [[Serve.materialize]] does and return its digest,
    * observed on the rows as they are written. */
  def materialize(df: DataFrame): String = {
    val p = positional(df)
    val obs = Observation()
    val aggs = aggregates(p)
    Serve.materialize(p.observe(obs, aggs.head, aggs.tail: _*))
    val m = obs.get
    render(m("n").asInstanceOf[Long], m("lo"), m("hi"))
  }

  /** The row count a digest records. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
