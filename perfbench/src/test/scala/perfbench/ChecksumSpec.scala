package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object LocalSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import LocalSpark.spark.implicits._

  private def rows = Seq((1L, "a", 1.5, Map("k" -> 1)), (2L, "b", 2.5, Map("k" -> 2)),
    (3L, "c", -0.0, Map.empty[String, Int]), (3L, "c", -0.0, Map.empty[String, Int]))

  test("the checksum ignores row order and partitioning") {
    val df = rows.toDF("id", "s", "x", "m")
    val sum = Checksum.of(df)
    assert(Checksum.of(df.orderBy(desc("id"), desc("s"))) == sum)
    assert(Checksum.of(df.repartition(3, col("s"))) == sum)
    assert(Checksum.of(rows.reverse.toDF("id", "s", "x", "m")) == sum)
  }

  test("the checksum catches a change to one row, a lost row and a duplicate") {
    val df = rows.toDF("id", "s", "x", "m")
    val sum = Checksum.of(df)
    assert(Checksum.of(df.withColumn("x",
      when(col("id") === 2, col("x") + 1e-9).otherwise(col("x")))) != sum)
    assert(Checksum.of(df.filter(col("id") =!= 1)) != sum)
    assert(Checksum.of(df.union(df.filter(col("id") === 1))) != sum)
  }

  test("duplicate column names are hashed by position") {
    val df = Seq((1, 2)).toDF("a", "b").select(col("a"), col("b").as("a"))
    assert(Checksum.of(df) != Checksum.of(Seq((2, 1)).toDF("a", "b").select(col("a"), col("b").as("a"))))
  }
}

