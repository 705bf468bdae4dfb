package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 0.5, Seq(1.0, 2.0)), (2L, "b", 1.25, Seq(3.0)),
      (3L, null, -2.0, Nil)).toDF("id", "s", "d", "arr")
  }

  test("row order and partitioning do not change the digest") {
    val d = Digest.of(frame)
    assert(d._1 == 3)
    assert(Digest.of(frame.orderBy(col("id").desc)) == d)
    assert(Digest.of(frame.repartition(3)) == d)
  }

  test("every column counts, not only the first") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("s",
      when(col("id") === 2, lit("c")).otherwise(col("s")))) != d)
    assert(Digest.of(frame.withColumn("arr",
      when(col("id") === 1, array(lit(1.0), lit(2.5))).otherwise(col("arr"))))
      != d)
    // a duplicated row is not cancelled out
    assert(Digest.of(frame.union(frame.filter(col("id") === 1)))._2 !=
      Digest.of(frame)._2)
  }

  test("doubles are compared to ten significant digits") {
    import spark.implicits._
    val a = Seq(0.1 + 0.2, 1e12 + 1e-4, -0.0).toDF("x")
    val b = Seq(0.3, 1e12, 0.0).toDF("x")
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(Seq(0.3001).toDF("x")) != Digest.of(Seq(0.3).toDF("x")))
    // float columns and nested doubles go through the same rounding
    assert(Digest.of(a.select(struct(col("x")).as("t"))) ==
      Digest.of(b.select(struct(col("x")).as("t"))))
  }

  test("maps digest the same whatever their entry order") {
    val m1 = spark.range(1).select(map(lit("k1"), lit(1.0), lit("k2"), lit(2.0)).as("m"))
    val m2 = spark.range(1).select(map(lit("k2"), lit(2.0), lit("k1"), lit(1.0)).as("m"))
    assert(Digest.of(m1) == Digest.of(m2))
  }

  test("an empty frame has zero rows and a zero digest") {
    assert(Digest.of(frame.filter(lit(false))) == ((0L, "0")))
  }
}
