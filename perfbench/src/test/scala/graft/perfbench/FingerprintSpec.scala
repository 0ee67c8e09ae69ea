package graft.perfbench

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    Configurator.setRootLevel(Level.WARN)
    SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    val s = spark; import s.implicits._
    Seq((1L, "a", 1.5, Map("k" -> 1)), (2L, "b", -0.25, Map("k" -> 2, "j" -> 0)),
      (3L, null, 0.0, Map.empty[String, Int]), (4L, "d", 1e9, Map("z" -> 9)))
      .toDF("id", "s", "x", "m")
  }

  test("reordering and repartitioning rows keeps the fingerprint") {
    val base = Fingerprint.of(rows)
    assert(base.rows == 4)
    assert(Fingerprint.of(rows.orderBy(desc("id"))) == base)
    assert(Fingerprint.of(rows.repartition(3, col("s")).sortWithinPartitions(col("x"))) == base)
  }

  test("changing one value, or dropping or duplicating a row, flips it") {
    val base = Fingerprint.of(rows)
    val changed = rows.withColumn("x", when(col("id") === 2, lit(-0.26)).otherwise(col("x")))
    assert(Fingerprint.of(changed) != base)
    val mapChanged = rows.withColumn("m",
      when(col("id") === 1, map(lit("k"), lit(2))).otherwise(col("m")))
    assert(Fingerprint.of(mapChanged) != base)
    assert(Fingerprint.of(rows.filter(col("id") =!= 3)) != base)
    assert(Fingerprint.of(rows.union(rows.filter(col("id") === 4))) != base)
  }

  test("the printed form parses back, and an empty result has a fingerprint") {
    val fp = Fingerprint.of(rows)
    assert(Fingerprint.parse(fp.toString) == fp)
    assert(Fingerprint.of(rows.filter(lit(false))) == Fingerprint.Value(0L, 0L))
  }
}
