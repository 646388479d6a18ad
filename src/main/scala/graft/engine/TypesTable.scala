package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

/** The reference's in-memory random `types` table (reference:
  * src/lib.rs:36-52, generators :62-75): schema
  * `(string Utf8, float Float32, int Int32)`, all non-nullable;
  * `string` is one random lowercase letter, `float` is uniform f32 in
  * [0,1), `int` is a full-range random i32.
  *
  * The reference generates with an unseeded `rand::thread_rng`
  * (src/lib.rs:63,73); we generate with Spark's seeded `rand()` so golden
  * and property tests are reproducible. Generation is fully distributed:
  * `spark.range(n)` partitions the id space across executors and every
  * column derives from codegen'd expressions — no driver-side data, so the
  * same code generates a 10^6-row table locally or a 10^11-row table on a
  * cluster.
  *
  * Generation always runs in 64 partitions, which fix the per-partition
  * `rand` streams and so every value. A narrow `coalesce` then packs
  * them into [[scanPartitions]]`(n)` scan tasks without moving a value
  * (`rand` is evaluated below it, seeded by the Range partition index).
  * Every statement pays a fixed cost per task, and the reference keeps
  * `types` as one in-memory table, so the paper's 1M rows scan in one
  * task and a single stage.
  */
object TypesTable {

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private val GenerationPartitions = 64

  private val RowsPerScanTask = 1000000L

  /** Tasks a scan of `n` rows runs: a function of `n` only, never of the
    * core count, so plans and 32-bit sums are the same on every host. */
  def scanPartitions(n: Long): Int =
    math.max(1L, math.min(GenerationPartitions.toLong,
      (n + RowsPerScanTask - 1) / RowsPerScanTask)).toInt

  def generate(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val parts = scanPartitions(n)
    if (parts == GenerationPartitions) generated(spark, n, seed)
    else generated(spark, n, seed).coalesce(parts)
  }

  /** The table as generated, in [[GenerationPartitions]] partitions. */
  private[graft] def generated(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    // rand(s) draws from stream (s + partitionIndex), so adjacent column
    // seeds alias across partitions (column k, partition p == column k+1,
    // partition p-1). Space the seeds far beyond any partition count so
    // the three columns are statistically independent streams.
    val colSeed = (k: Int) => seed + k.toLong * 0x100000L
    spark.range(0L, n, 1L, GenerationPartitions).select(
      // one uniform lowercase letter (reference: src/lib.rs:62-67)
      lit(Letters).substr((floor(rand(colSeed(0)) * 26) + 1).cast(IntegerType), lit(1))
        .alias("string"),
      // uniform f32 in [0,1) (reference: src/lib.rs:69-75)
      rand(colSeed(1)).cast(FloatType).alias("float"),
      // full-range i32 (reference: rand::Standard over i32, src/lib.rs:69-75)
      (floor(rand(colSeed(2)) * 4294967296L) - 2147483648L).cast(IntegerType).alias("int")
    )
  }
}
