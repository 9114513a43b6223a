package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def frame = {
    import spark.implicits._
    (0 until 200).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i * 1.5, i / 3.0), Map(s"k$i" -> i)))
      .toDF("id", "s", "d", "arr", "m")
  }

  test("row order and partitioning do not change the fingerprint") {
    val base = Suite.fingerprint(frame)
    assert(base._1 == 200)
    assert(Suite.fingerprint(frame.orderBy(desc("id"))) == base)
    assert(Suite.fingerprint(frame.repartition(7, col("s"))) == base)
    assert(Suite.fingerprint(frame.coalesce(1).orderBy(rand(3))) == base)
  }

  test("the hash part is the row hashes' sum modulo 2^64, under ANSI mode too") {
    val named = frame.select(col("id"), col("s"))
    val wrapped = named.select(xxhash64(col("id"), col("s"))).collect().map(_.getLong(0)).sum
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(Suite.fingerprint(named) == ((200L, wrapped)))
  }

  test("a changed, dropped or duplicated row changes the fingerprint") {
    val base = Suite.fingerprint(frame)
    assert(Suite.fingerprint(frame.withColumn("s", when(col("id") === 5, "x").otherwise(col("s")))) != base)
    assert(Suite.fingerprint(frame.filter(col("id") =!= 5)) != base)
    assert(Suite.fingerprint(frame.union(frame.filter(col("id") === 5))) != base)
  }

  test("a last-bit difference in a double keeps the fingerprint") {
    val base = Suite.fingerprint(frame)
    assert(Suite.fingerprint(frame.withColumn("d", col("d") * (1.0 + 1e-15))) == base)
  }

  test("duplicate column names and empty frames are fingerprinted") {
    val dup = frame.select(col("id"), col("id"))
    assert(Suite.fingerprint(dup)._1 == 200)
    assert(Suite.fingerprint(frame.filter(lit(false))) == (0L, 0L))
  }
}
