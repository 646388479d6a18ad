package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.TypesTable

/** The coalesced `types` scan serves exactly the rows of its 64-partition
  * generation, in a number of tasks that depends on the row count only. */
class TypesTableSpec extends SparkSpecBase {

  test("scan partitions: one task per million rows, 1 to 64, from n alone") {
    Seq(0L -> 1, 1L -> 1, 1024L -> 1, 1000000L -> 1, 1000001L -> 2,
      2500000L -> 3, 64000000L -> 64, 100000000000L -> 64).foreach { case (n, want) =>
      assert(TypesTable.scanPartitions(n) == want, s"n=$n")
    }
    Seq(1024L, 1000000L, 2500000L, 64000000L).foreach { n =>
      assert(TypesTable.generate(spark, n).rdd.getNumPartitions ==
        TypesTable.scanPartitions(n), s"n=$n")
    }
  }

  test("coalesced types equals the 64-partition generation row for row") {
    Seq(1000000L, 2500000L).foreach { n =>
      val scan = TypesTable.generate(spark, n, seed = 42)
      val gen = TypesTable.generated(spark, n, seed = 42)
      assert(gen.rdd.getNumPartitions == 64)
      assert(scan.exceptAll(gen).isEmpty && gen.exceptAll(scan).isEmpty, s"n=$n")
      def stats(df: DataFrame) =
        df.agg(count(lit(1)), sum(col("int").cast("long"))).head()
      assert(stats(scan) == stats(gen), s"n=$n")
      def letters(df: DataFrame) =
        df.groupBy("string").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(letters(scan) == letters(gen), s"n=$n")
    }
  }

  test("types scan partitions and content are the same under local[1] and local[4]") {
    val seen = Seq("local[1]", "local[4]").map(TypesTableProbe.runIn)
    assert(seen.distinct.size == 1, seen.mkString(" vs "))
    val Array(parts, rows, _) = seen.head.split(" ")
    assert(parts.toInt == TypesTable.scanPartitions(1000000L) && rows == "1000000", seen.head)
  }
}

/** Prints `<scan partitions> <rows> <content digest>` of the 1M-row
  * `types` table on a fresh session of the master given as the only
  * argument. A JVM holds one SparkContext, so [[runIn]] starts a child
  * JVM per master. */
object TypesTableProbe {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(args(0)).appName("types-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    val df = TypesTable.generate(spark, 1000000L)
    // an order-independent digest: the exact long sum of per-row hashes
    val r = df.agg(count(lit(1)), sum(hash(col("string"), col("float"), col("int")).cast("long")))
      .head()
    println(s"${df.rdd.getNumPartitions} ${r.getLong(0)} ${r.getLong(1)}")
    spark.stop()
  }

  /** Runs [[main]] in a child JVM ([[ChildJvm]]); returns its last
    * stdout line. */
  def runIn(master: String): String = {
    val dir = Scratch.tempDir("types_probe")
    val (code, out) = ChildJvm.run("graft.TypesTableProbe", Seq(master), dir, dir)
    assert(code == 0, s"probe under $master exited $code")
    out.last
  }
}
