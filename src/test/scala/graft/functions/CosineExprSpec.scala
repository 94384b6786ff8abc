package graft.functions

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.llm.Similarity

class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the composable-expression cosine") {
    val rnd = new java.util.Random(3)
    val df = (1 to 50).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian()), Seq.fill(16)(rnd.nextGaussian())))
      .toDF("id", "a", "b")
    val rows = df.select(
      GraftFunctions.cosine(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("composed")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("null semantics: null inputs, length mismatch, zero norm") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),   // fine
      (None, Some(Seq(1.0, 2.0))),                  // null side
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0))),        // length mismatch
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0)))    // zero norm
    ).toDF("a", "b")
    val out = df.select(GraftFunctions.cosine(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
    assert(out(3).isNullAt(0))
  }

  test("NaN or infinite elements give NaN, not null, in eval and codegen") {
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val rows = Seq(
      (0, Seq(1.0, nan), Seq(1.0, 2.0)),    // NaN element
      (1, Seq(inf, 1.0), Seq(1.0, 2.0)),    // infinite element
      (2, Seq(nan, 0.0), Seq(0.0, 0.0)),    // zero norm wins: null
      (3, Seq(1.0, 2.0), Seq(2.0, 4.0)))    // finite
    val literal = rows.toDF("i", "a", "b")
    val path = java.nio.file.Files.createTempDirectory("cos_nan").toString
    literal.write.mode("overwrite").parquet(path)
    // a literal frame evaluates interpreted; the parquet scan codegens
    Seq(literal, spark.read.parquet(path)).foreach { df =>
      val out = df.select(col("i"), GraftFunctions.cosine(col("a"), col("b")))
        .collect().sortBy(_.getInt(0))
        .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      assert(out(0).exists(_.isNaN) && out(1).exists(_.isNaN), out.toSeq)
      assert(out(2).isEmpty, out.toSeq)
      assert(out(3).exists(c => math.abs(c - 1.0) < 1e-12), out.toSeq)
    }
  }

  test("registered via SparkSessionExtensions and callable from SQL") {
    // injectFunction path without rebuilding the session: register into
    // the live registry through the same descriptor the extension uses
    val (ident, info, builder) = GraftFunctions.cosineDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .toDF("a", "b").createOrReplaceTempView("cos_t")
    val out = spark.sql("SELECT graft_cosine(a, b) AS c FROM cos_t")
      .collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) - 0.0) < 1e-12)
  }

  test("whole-stage codegen survives (no fallback to interpreted)") {
    // a literal frame constant-folds to LocalTableScan; use a real
    // distributed source so the projection must execute
    val df = spark.range(100)
      .select(
        org.apache.spark.sql.functions.array(col("id").cast("double"),
          (col("id") + 1).cast("double")).as("a"),
        org.apache.spark.sql.functions.array((col("id") + 2).cast("double"),
          (col("id") + 3).cast("double")).as("b"))
      .select(GraftFunctions.cosine(col("a"), col("b")).as("c"))
    // the `*(n)` prefix marks a WholeStageCodegen stage in compact form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_cosine"),
      s"graft_cosine not inside a codegen stage:\n$plan")
    assert(df.collect().length == 100) // and it runs through codegen
  }
}
