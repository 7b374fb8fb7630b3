package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Vectors, VectorExpressions}

class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("codegen DotProduct is bit-identical to the HOF reference on fixture vectors") {
    val e = graft.sources.Tables.load(spark, SparkTestSession.sf, "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
        .limit(3))
    val diff = pairs.select(
      Vectors.dot(col("embedding"), col("e2")).as("fast"),
      Vectors.dotHof(col("embedding"), col("e2")).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff == 0)
  }

  test("the HOF reference is not rewritten to DotProduct") {
    // the differential cases compare two formulations only while the
    // optimizer leaves dotHof as aggregate(zip_with(...))
    val e = graft.sources.Tables.load(spark, SparkTestSession.sf, "embeddings")
    val plan = e.select(Vectors.dotHof(col("embedding"), col("embedding")))
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("dotproduct"), plan)
    assert(plan.contains("aggregate(zip_with"), plan)
  }

  test("DotProduct interpreted eval matches codegen path") {
    val v = Seq((Array(1.5f, -2.0f, 3.25f), Array(2.0f, 4.0f, -1.0f)))
      .toDF("a", "b")
    val viaDf = v.select(Vectors.dot(col("a"), col("b"))).head().getDouble(0)
    val expr = VectorExpressions.DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.5f, -2.0f, 3.25f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 4.0f, -1.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    assert(viaDf == interpreted)
    assert(viaDf == 1.5 * 2.0 + -2.0 * 4.0 + 3.25 * -1.0)
  }

  test("DotProduct nulls propagate") {
    val r = Seq((Option.empty[Array[Float]], Array(1.0f)))
      .toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")))
      .head()
    assert(r.isNullAt(0))
  }

  test("DotProduct edge semantics equal the HOF twin: length mismatch and null elements") {
    // mismatched lengths: zip_with null-pads → sum is NULL; DotProduct
    // must agree (not silently sum over min(n))
    val mism = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")).as("fast"),
        Vectors.dotHof(col("a"), col("b")).as("ref"))
      .head()
    assert(mism.isNullAt(0) && mism.isNullAt(1))
    // a null element poisons the sum in both formulations
    val withNull = Seq((Seq(Some(1.0f), None, Some(3.0f)), Seq(Some(1.0f), Some(2.0f), Some(3.0f))))
      .toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")).as("fast"),
        Vectors.dotHof(col("a"), col("b")).as("ref"))
      .head()
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
    // interpreted path agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val e = VectorExpressions.DotProduct(
      Literal.create(Array(1.0f, 2.0f, 3.0f), ArrayType(FloatType)),
      Literal.create(Array(1.0f, 2.0f), ArrayType(FloatType)))
    assert(e.eval(null) == null)
  }

  test("HyperplaneBucket is stable and spreads vectors across codes") {
    val e = graft.sources.Tables.load(spark, SparkTestSession.sf, "embeddings")
    val buckets = e.select(
      VectorExpressions.lsh_bucket(col("embedding"), 32).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.distinct.length > buckets.length / 4,
      "bucket codes should be well spread")
    // rejects wrong input type at analysis
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      e.select(VectorExpressions.lsh_bucket(col("vec_id"), 32)).head()
    }
    assert(err.getMessage.toLowerCase.contains("lsh_bucket") ||
      err.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
