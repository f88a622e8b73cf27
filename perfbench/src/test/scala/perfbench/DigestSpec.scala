package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = Seq((1L, "a", Map("k" -> 1.5)), (2L, "b", Map.empty[String, Double]),
    (3L, null, Map("z" -> -0.0)), (2L, "b", Map.empty[String, Double]))

  test("the digest ignores row order and partitioning") {
    import spark.implicits._
    val df = rows.toDF("id", "s", "m")
    val d = Digest.of(df)
    assert(Digest.of(rows.reverse.toDF("id", "s", "m")) == d)
    assert(Digest.of(df.repartition(3)) == d)
    assert(Digest.of(df.orderBy($"id".desc)) == d)
    assert(Digest.rows(d) == 4)
  }

  test("the digest sees changed, lost and duplicated rows") {
    import spark.implicits._
    val d = Digest.of(rows.toDF("id", "s", "m"))
    assert(Digest.of(rows.updated(0, (1L, "x", Map("k" -> 1.5))).toDF("id", "s", "m")) != d)
    assert(Digest.of(rows.tail.toDF("id", "s", "m")) != d)
    assert(Digest.of((rows :+ rows.head).toDF("id", "s", "m")) != d)
    assert(Digest.of(rows.take(0).toDF("id", "s", "m")) == "0:0:0")
  }

  test("the digest observed while materializing equals the aggregated one") {
    import spark.implicits._
    val df = rows.toDF("id", "s", "m").repartition(2)
    assert(Digest.materialize(df) == Digest.of(df))
  }
}
