package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every custom expression must COMPILE under codegen, not merely
  * produce right answers: Spark's default `spark.sql.codegen.fallback
  * =true` silently re-runs a failed compile in interpreted mode, so a
  * broken `doGenCode` passes value tests while costing ~10-100x per
  * row at scale (exactly the regression this suite pins: generated
  * code must call the helper objects' static forwarders — a
  * `Helper$.MODULE$` dotted name does not resolve in Janino).
  *
  * With fallback disabled and CODEGEN_ONLY factory mode, any compile
  * failure surfaces as a thrown exception and fails the test.
  */
class CodegenCompileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def strictCodegen[A](body: => A): A = {
    val conf = spark.conf
    val oldFallback = conf.get("spark.sql.codegen.fallback", "true")
    val oldMode = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      conf.set("spark.sql.codegen.fallback", oldFallback)
      conf.set("spark.sql.codegen.factoryMode", oldMode)
    }
  }

  test("vector expressions compile and evaluate inside codegen") {
    import spark.implicits._
    strictCodegen {
      val df = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(0.5, 0.5, 0.5)))
        .toDF("id", "vf", "vd")
      val r = df.select(
        VectorExprs.dot($"vf", $"vd").as("dot"),
        VectorExprs.normSq($"vf").as("n2"),
        VectorExprs.cosine($"vf", $"vd").as("cos"),
        VectorExprs.perturb($"id", $"vf").as("pert"),
        VectorExprs.toDouble($"vf").as("dbl")).collect().head
      assert(math.abs(r.getDouble(0) - 3.0) < 1e-12)
      assert(math.abs(r.getDouble(1) - 14.0) < 1e-12)
      assert(math.abs(r.getDouble(2) - 3.0 / (math.sqrt(14.0) * math.sqrt(0.75))) < 1e-12)
      assert(r.getSeq[Double](3).length === 3)
      assert(r.getSeq[Double](4) === Seq(1.0, 2.0, 3.0))
      // two argbest calls over NON-nullable inputs in one projection:
      // nullSafeCodeGen emits their bodies unbraced into one method,
      // so each call's result local must be uniquely named
      val inputs = spark.range(1, 3).select($"id",
        array($"id".cast("float"), lit(1.0f)).as("v"),
        array(
          struct(lit(3).as("id"), array($"id".cast("double"), lit(2.0)).as("c")),
          struct(lit(7).as("id"), array(lit(1.0), lit(0.0)).as("c"))).as("cands"))
      assert(!inputs.schema("v").nullable && !inputs.schema("cands").nullable)
      val rows = inputs.select($"id",
        VectorExprs.bestByCosine($"v", $"cands").as("bc"),
        VectorExprs.bestByL2($"v", $"cands").as("bl")).orderBy("id").collect()
      // v = (id, 1) against (id, 2) [id 3] and (1, 0) [id 7]: id 3 has
      // the higher cosine for both rows and the lower-or-tied d² (ties
      // break to the lower id)
      assert(rows.map(r => (r.getLong(0), r.getStruct(1).getInt(0),
        r.getStruct(2).getInt(0))).toSeq === Seq((1L, 3, 3), (2L, 3, 3)))
    }
  }

  test("text-hash expressions compile and evaluate inside codegen") {
    import spark.implicits._
    strictCodegen {
      val df = Seq((Seq("a", "b", "c", "a"), Seq("b", "c", "d")))
        .toDF("t1", "t2")
      val r = df.select(
        TextHashExprs.simHash60(col("t1")).as("sh"),
        TextHashExprs.minhashSig(col("t1"),
          Array(3L, 5L), Array(7L, 11L), (1L << 61) - 1).as("mh"),
        TextHashExprs.shingleMin(col("t1")).as("smin"),
        TextHashExprs.shingleStats(col("t1"), col("t2")).as("stats"),
        TextHashExprs.windowHashes(col("t1"), 2).as("wh")).collect().head
      assert(r.getLong(0) !== 0L)
      assert(r.getSeq[Long](1).length === 2)
      assert(r.getStruct(3).length === 3) // (inter, na, nb)
      // 4 tokens, width 2 -> 3 per-position windows; "a b" appears once
      assert(r.getSeq[Long](4).length === 3)
    }
  }

  test("lsh_signature and iceberg_bucket compile inside codegen") {
    import spark.implicits._
    strictCodegen {
      val matrix = Array.tabulate(2 * 4 * 3)(i => (i % 7 - 3).toDouble)
      val sig = GraftShims.column(
        LshSignature(GraftShims.expression($"v"), matrix, 2, 4))
      val r = Seq(Tuple1(Array(1.0f, -2.0f, 0.5f))).toDF("v")
        .select(sig.as("sig"), IcebergBucket.bucket(16, lit(34)).as("b"))
        .collect().head
      assert(r.getSeq[Long](0).length === 2)
      assert(r.getInt(1) === graft.core.Transform.Bucket(16)(34))
    }
  }

  test("zvalue compiles inside codegen and matches interpreted eval") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    strictCodegen {
      val cuts = Array(Array(3.0, 17.0), Array(2.0, 40.0))
      val df = Seq((3.0, 40.0), (17.0, 2.0), (255.0, 255.0)).toDF("x", "y")
      val zc = GraftShims.column(ZValue(
        GraftShims.expression(array($"x".cast(DoubleType), $"y".cast(DoubleType))),
        cuts))
      val compiled = df.orderBy("x").select(zc.as("z")).collect().map(_.getLong(0))
      val interp = Seq((3.0, 40.0), (17.0, 2.0), (255.0, 255.0)).sortBy(_._1)
        .map { case (a, b) =>
          ZOrderHelper.zValue(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(a, b)), cuts)
        }
      assert(compiled.toSeq === interp)
      assert(compiled.distinct.length === 3)
    }
  }

  test("codegen output matches interpreted eval bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.25f, -1.5f, 3.0f), Seq("x", "y", "z", "x", "w")),
      (2L, Array(-0.75f, 2.25f, 0.125f), Seq("p", "q"))).toDF("id", "v", "t")
    def run(): Seq[org.apache.spark.sql.Row] = df.select(
      VectorExprs.dot($"v", $"v").as("dot"),
      VectorExprs.perturb($"id", $"v").as("pert"),
      TextHashExprs.simHash60($"t").as("sh"),
      TextHashExprs.shingleMin($"t").as("smin")).collect().toSeq
    val gen = strictCodegen(run())
    val conf = spark.conf
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    conf.set("spark.sql.codegen.wholeStage", "false")
    val interp =
      try run()
      finally {
        conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        conf.set("spark.sql.codegen.wholeStage", "true")
      }
    assert(gen === interp)
  }
}
