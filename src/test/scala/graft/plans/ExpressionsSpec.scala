package graft.plans

import graft.SparkSpec
import graft.kg.EntityNames
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("EntityNameExpr equals the Scala kernel on fixture names") {
    val names = Seq("Waldron Shale", " Powell – Smithville – Black Rock ",
      "o'brien", "St. Peter Sandstone", "Agrinierite")
    val got = names.toDF("n")
      .select(Expressions.entity_name(col("n")))
      .collect().map(_.getString(0))
    assert(got.toSeq === names.map(EntityNames.entityName))
  }

  test("null-safe and registered for SQL use") {
    Expressions.register(spark)
    val got = Seq(Some("gold ore"), None).toDF("n")
      .selectExpr("entity_name(n) AS e")
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq === Seq(Some("GoldOre"), None))
  }

  test("stays inside whole-stage codegen (no UDF eval node)") {
    // spark.range feeds a codegen'd stage (a literal LocalRelation would
    // collapse to LocalTableScan with no codegen at all)
    val plan = spark.range(10).select(col("id").cast("string").as("n"))
      .select(Expressions.entity_name(col("n")))
      .queryExecution.executedPlan.toString
    // "*(1)" marks operators fused into WholeStageCodegen stage 1
    assert(plan.contains("*(1) Project [entity_name("), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("GraftExtensions injects the function into a fresh builder") {
    val ext = new GraftExtensions
    val e = new org.apache.spark.sql.SparkSessionExtensions
    ext(e) // must register without throwing
  }

  test("DotProductExpr equals the HOF form bit-for-bit, incl. null cases") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1), Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        Expressions.dot_product(col("a"), col("b")).as("native"),
        graft.ops.Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    got.foreach { r =>
      // bit-for-bit: same left-to-right fp fold order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
    // length mismatch and null input -> null (zip_with parity)
    val edge = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(1.0))),
      (2L, None, Some(Seq(1.0, 2.0))))
      .toDF("id", "a", "b")
      .select(Expressions.dot_product(col("a"), col("b")).as("d"))
      .collect().map(r => r.isNullAt(0))
    assert(edge.toSeq === Seq(true, true))
  }

  test("CosineSimExpr equals the composed dot/norm form bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1), Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(
        Expressions.cosine_sim(col("a"), col("b")).as("native"),
        (Expressions.dot_product(col("a"), col("b")) /
          (sqrt(Expressions.dot_product(col("a"), col("a"))) *
           sqrt(Expressions.dot_product(col("b"), col("b"))))).as("composed"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // length mismatch / null input -> null, like dot_product
    val edge = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(1.0))),
      (2L, None, Some(Seq(1.0, 2.0))))
      .toDF("id", "a", "b")
      .select(Expressions.cosine_sim(col("a"), col("b")).as("c"))
      .collect().map(_.isNullAt(0))
    assert(edge.toSeq === Seq(true, true))
  }

  test("cosine_sim stays inside whole-stage codegen") {
    val plan = spark.range(10)
      .select(array(col("id").cast("double"), lit(1.0)).as("a"),
        array(lit(2.0), col("id").cast("double")).as("b"))
      .select(Expressions.cosine_sim(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("cosine_sim("), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("dot_product stays inside whole-stage codegen") {
    val plan = spark.range(10)
      .select(array(col("id").cast("double"), lit(1.0)).as("a"),
        array(lit(2.0), col("id").cast("double")).as("b"))
      .select(Expressions.dot_product(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("dot_product("), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("BucketHistogramExpr equals the composed filter/size form") {
    import graft.kg.Linker
    val rnd = new scala.util.Random(11)
    // random bucket ids in -2 until CosineDim + 2, so ids out of range on
    // both ends (match no bucket) occur; empty arrays, and a null row
    val rows = (0 until 40).map { i =>
      (i.toLong, Some(Seq.fill(rnd.nextInt(20))(rnd.nextInt(Linker.CosineDim + 4) - 2)))
    } :+ (40L, None) :+ (41L, Some(Seq.empty[Int]))
    val df = rows.toDF("id", "bks")
    val got = df.select(col("id"),
        Linker.bucketVector(col("bks")).as("native"),
        Linker.bucketVectorHof(col("bks")).as("hof"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1)) {
        // documented divergence on a NULL input array (no engine path
        // produces one): native is null-intolerant -> null; the composed
        // form maps size(filter(null)) per bucket -> an array of nulls
        assert(r.getSeq[java.lang.Double](2).forall(_ == null))
      } else assert(r.getSeq[Double](1) === r.getSeq[Double](2))
    }
    // real featurization path: gramBuckets of a name, both forms
    val name = Seq("Waldron Shale").toDF("n")
      .select(Linker.gramBuckets(Linker.normName(col("n"))).as("bks"))
      .select(Linker.bucketVector(col("bks")).as("native"),
        Linker.bucketVectorHof(col("bks")).as("hof"))
      .collect().head
    assert(name.getSeq[Double](0) === name.getSeq[Double](1))
    assert(name.getSeq[Double](0).sum === 11.0) // 11 distinct 3-grams
  }

  test("bucket_histogram stays inside whole-stage codegen and SQL-registers") {
    val plan = spark.range(10)
      .select(array(col("id").cast("int"), lit(1)).as("bks"))
      .select(Expressions.bucket_histogram(col("bks"), 8))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("bucket_histogram("), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    Expressions.register(spark)
    val viaSql = Seq(Seq(0, 1, 1, 3)).toDF("bks")
      .selectExpr("bucket_histogram(bks, 4) AS h")
      .collect().head.getSeq[Double](0)
    assert(viaSql === Seq(1.0, 2.0, 0.0, 1.0))
  }
}
