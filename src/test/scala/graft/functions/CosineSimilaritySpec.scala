package graft.functions

import graft.{GraftFunctions, SparkSpec, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  private lazy val pairs = {
    val e = Tables.load(spark, sf, "embeddings")
    val a = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("ida"), asDouble(col("embedding")).as("va"))
    val b = e.filter(col("vec_id").between(50, 99))
      .select(col("vec_id").as("idb"), asDouble(col("embedding")).as("vb"))
    a.crossJoin(broadcast(b))
  }

  test("native expression matches the HOF composition to 1e-12") {
    val diff = pairs.select(
        (GraftFunctions.cosineSim(col("va"), col("vb")) -
          cosine(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff < 1e-12, s"max |native - hof| = $diff")
  }

  test("native expression is callable from SQL and stays in codegen") {
    GraftFunctions.register(spark)
    pairs.createOrReplaceTempView("pairs_v")
    val df = spark.sql("SELECT ida, idb, cosine_sim(va, vb) s FROM pairs_v")
    assert(df.count() == 2500)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined, s"fell out of codegen:\n$plan")
  }

  test("zero-norm operand yields 0.0, not NaN, in native and HOF forms") {
    GraftFunctions.register(spark)
    // NaN would satisfy every >= tau threshold under Spark's
    // NaN-is-largest ordering and collapse SemanticDedup cells
    val df = spark.sql(
      """SELECT cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) zl,
        |       cosine_sim(array(1.0d, 2.0d), array(0.0d, 0.0d)) zr,
        |       cosine_sim(array(0.0d, 0.0d), array(0.0d, 0.0d)) zz""".stripMargin)
    val r = df.head
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0,
      s"zero-norm cosine not 0.0: $r")
    // interpreted eval path agrees with codegen
    val e = graft.functions.expressions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.0, 0.0), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, 4.0), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == 0.0)
    val hof = spark.range(1).select(
      cosine(lit(Array(0.0, 0.0)), lit(Array(3.0, 4.0))).as("c")).head.getDouble(0)
    assert(hof == 0.0, s"HOF zero-norm cosine not 0.0: $hof")
  }

  test("extensions-injected session exposes cosine_sim without registration") {
    // with no active or default session, getOrCreate builds a new session
    // on the running context: builtins plus what the extension injects,
    // none of the temp functions the cases above registered on `spark`
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    assert(s2 ne shared)
    val r = s2.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
  }
}
