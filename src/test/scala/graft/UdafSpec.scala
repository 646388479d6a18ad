package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType
import graft.engine.{Engine, TypesTable}
import graft.udaf.Udafs

/** Semantics of the two custom aggregates (SURVEY §2.4):
  * reference parity points — Float32 result type, empty→0.0f (not NULL),
  * coercion trichotomy, partial-merge correctness under repartitioning. */
class UdafSpec extends SparkSpecBase {

  private def withSession[A](f: => A): A = { Udafs.registerAll(spark); f }

  test("sum_custom returns FloatType, matches built-in sum within tolerance") {
    withSession {
      TypesTable.generate(spark, 100000, seed = 7).createOrReplaceTempView("types_t")
      val row = spark.sql(
        "SELECT sum_custom(float) AS s, sum(CAST(float AS DOUBLE)) AS ref FROM types_t").head()
      assert(spark.sql("SELECT sum_custom(float) AS s FROM types_t")
        .schema("s").dataType == FloatType)
      val (s, ref) = (row.getFloat(0), row.getDouble(1))
      assert(math.abs(s - ref) / ref < 1e-4, s"custom=$s ref=$ref")
    }
  }

  test("sum_custom coerces int input to float (reference coerce_types)") {
    withSession {
      val r = spark.sql("SELECT sum_custom(x) AS s FROM VALUES (1), (2), (3) AS t(x)").head()
      assert(r.getFloat(0) == 6.0f)
    }
  }

  test("sum_custom over empty input yields 0.0f, not NULL (cudarc/cubecl quirk)") {
    withSession {
      val r = spark.sql(
        "SELECT sum_custom(x) AS s FROM (SELECT CAST(1.0 AS FLOAT) AS x WHERE 1=0)").head()
      assert(!r.isNullAt(0) && r.getFloat(0) == 0.0f)
    }
  }

  // sum_custom/sum_cudarc contract, pinned at the SQL surface so it holds
  // whatever class implements it: every numeric (or numeric-string)
  // input is cast to Float32 per row and summed in Float32
  test("sum_custom casts bigint, double, decimal and numeric-string input to Float32") {
    withSession {
      Seq(
        "VALUES (CAST(1 AS BIGINT)), (CAST(5000000000 AS BIGINT))" -> 5.0e9f,
        "VALUES (1.5D), (2.25D)" -> 3.75f,
        "VALUES (1.5), (2.25)" -> 3.75f, // DECIMAL(3,2)
        "VALUES ('1.5'), ('2.25')" -> 3.75f,
        // the per-row cast happens before the add: 0.1D rounds to 0.1f
        "VALUES (0.1D), (0.2D)" -> (0.1f + 0.2f)
      ).foreach { case (rows, want) =>
        val df = spark.sql(s"SELECT sum_custom(x) AS s FROM $rows AS t(x)")
        assert(df.schema("s").dataType == FloatType, rows)
        assert(df.head().getFloat(0) == want, s"$rows: ${df.head()}")
      }
    }
  }

  test("sum_custom: nulls add nothing, an all-null column gives 0.0f") {
    withSession {
      Seq(
        "SELECT sum_custom(x) FROM VALUES (1), (CAST(NULL AS INT)), (2) AS t(x)" -> 3.0f,
        "SELECT sum_custom(CAST(NULL AS INT)) FROM VALUES (1), (2) AS t(x)" -> 0.0f,
        "SELECT sum_custom(NULL) FROM VALUES (1), (2) AS t(x)" -> 0.0f
      ).foreach { case (q, want) =>
        val r = spark.sql(q).head()
        assert(!r.isNullAt(0) && r.getFloat(0) == want, s"$q: $r")
      }
    }
  }

  test("sum_custom rejects non-numeric input at analysis (boolean, date)") {
    withSession {
      Seq("true", "DATE'2020-01-01'").foreach { v =>
        val ex = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT sum_custom(x) FROM VALUES ($v) AS t(x)").head()
        }
        assert(ex.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", ex.getMessage)
        assert(ex.getMessage.contains("\"FLOAT\""), ex.getMessage)
      }
    }
  }

  test("every 32-bit sum name takes exactly one argument") {
    withSession {
      Udafs.sums.foreach { case (f, _) =>
        val ex = intercept[Exception] {
          spark.sql(s"SELECT $f(x, x) FROM VALUES (1) AS t(x)").head()
        }
        assert(ex.getMessage.contains(s"$f takes exactly one argument"), ex.getMessage)
      }
    }
  }

  test("every 32-bit sum name takes DISTINCT and FILTER like a built-in aggregate") {
    withSession {
      Udafs.sums.foreach { case (f, _) =>
        val r = spark.sql(
          s"""SELECT $f(DISTINCT x), $f(x) FILTER (WHERE x > 1)
             |FROM VALUES (1), (1), (2) AS t(x)""".stripMargin).head()
        assert(r.getFloat(0) == 3.0f && r.getFloat(1) == 2.0f, s"$f: $r")
      }
    }
  }

  test("every 32-bit sum keeps its invoked name as the REPL header") {
    Engine.configure(spark, Engine.Options(typesTableLength = 16))
    Seq("sum_custom", "sum_cudarc", "sum_coercing", "sum_cubecl").foreach { f =>
      assert(spark.sql(s"SELECT $f(float) FROM types").columns.toSeq == Seq(s"$f(float)"))
    }
  }

  test("Udafs.sum_custom column form: Float32 result, cast and null rules of the SQL form") {
    withSession {
      import spark.implicits._
      val df = Seq(Some(1L), None, Some(5000000000L)).toDF("x")
        .agg(Udafs.sum_custom(col("x")).as("s"))
      assert(df.schema("s").dataType == FloatType)
      assert(df.head().getFloat(0) == 5.0e9f)
    }
  }

  test("q_udaf_window: running 32-bit sums equal the built-in running sums") {
    withSession {
      val got = SparkEntry.queries("q_udaf_window")(spark, sfDir)
      Engine.registerTestdata(spark, sfDir)
      val want = spark.sql(
        """SELECT o_custkey, o_orderkey,
          |  CAST(sum(CAST(o_orderkey % 100 AS INT)) OVER w AS FLOAT) AS running_mod,
          |  CAST(sum(o_orderkey % 7) OVER w AS FLOAT) AS running_mod7
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty && g == w)
    }
  }

  test("q_types_1m_trio: both 32-bit sums within 64 of the double sum") {
    // one scan task → one sequential f32 accumulation per sum, a fixed
    // value for the seeded table: measured 0.145 off for both, against a
    // random-walk rms of ≈9 (derivation at q_types_1m_trio in ops/Udaf)
    val r = SparkEntry.queries("q_types_1m_trio")(spark, sfDir).head()
    assert(r.getAs[Boolean]("custom_sum_ok") && r.getAs[Boolean]("coercing_sum_ok") &&
      r.getAs[Long]("n") == 1000000L, r.toString)
  }

  test("sum_coercing int path accumulates in Int32 (32-bit wraparound)") {
    withSession {
      // 2^31-1 + 1 wraps to -2^31 in i32, then cast to float
      val r = spark.sql(
        "SELECT sum_coercing(x) AS s FROM VALUES (2147483647), (1) AS t(x)").head()
      assert(r.getFloat(0) == Int.MinValue.toFloat, s"got ${r.getFloat(0)}")
    }
  }

  test("sum_coercing float path returns Float32 and empty→0.0f") {
    withSession {
      // decimal literals must go through an explicit cast: the reference's
      // coerce_types rejects Decimal input (src/cubecl_sum_udaf.rs)
      val r = spark.sql(
        "SELECT sum_coercing(CAST(x AS DOUBLE)) AS s FROM VALUES (1.5), (2.25) AS t(x)").head()
      assert(r.getFloat(0) == 3.75f)
      val e = spark.sql(
        "SELECT sum_coercing(CAST(1.0 AS DOUBLE)) AS s FROM (SELECT 1 WHERE 1=0)").head()
      assert(!e.isNullAt(0) && e.getFloat(0) == 0.0f)
    }
  }

  test("sum_coercing rejects Decimal input like the reference's coerce_types") {
    withSession {
      val ex = intercept[Exception] {
        spark.sql("SELECT sum_coercing(x) FROM VALUES (1.5), (2.25) AS t(x)").head()
      }
      assert(ex.getMessage.contains("sum_coercing: unsupported input type"))
    }
  }

  test("sum_custom is partition-order invariant within fp tolerance") {
    withSession {
      val df = TypesTable.generate(spark, 50000, seed = 11)
      df.createOrReplaceTempView("t_a")
      df.repartition(17).createOrReplaceTempView("t_b")
      val a = spark.sql("SELECT sum_custom(float) FROM t_a").head().getFloat(0)
      val b = spark.sql("SELECT sum_custom(float) FROM t_b").head().getFloat(0)
      assert(math.abs(a - b) / math.max(1f, a.abs) < 1e-3)
    }
  }

  test("types table: seeded, right schema, value ranges match reference generators") {
    val df = TypesTable.generate(spark, 10000, seed = 42)
    val row = df.agg(
      min(col("float")), max(col("float")),
      min(length(col("string"))), max(length(col("string"))),
      countDistinct(col("string"))).head()
    assert(row.getFloat(0) >= 0f && row.getFloat(1) < 1f)
    assert(row.getInt(2) == 1 && row.getInt(3) == 1)
    assert(row.getLong(4) <= 26)
    // seeded: same seed → same sum
    val s1 = TypesTable.generate(spark, 1000, 5).agg(sum("int")).head().getLong(0)
    val s2 = TypesTable.generate(spark, 1000, 5).agg(sum("int")).head().getLong(0)
    assert(s1 == s2)
  }

  test("engine facade registers types view + UDAFs (README trio runs)") {
    Engine.configure(spark, Engine.Options(typesTableLength = 1024))
    val builtin = spark.sql("SELECT sum(float) FROM types").head().getDouble(0)
    val custom = spark.sql("SELECT sum_custom(float) FROM types").head().getFloat(0)
    val coercing = spark.sql("SELECT sum_coercing(float) FROM types").head().getFloat(0)
    assert(math.abs(builtin - custom) / builtin < 1e-4)
    assert(math.abs(builtin - coercing) / builtin < 1e-4)
  }
}
