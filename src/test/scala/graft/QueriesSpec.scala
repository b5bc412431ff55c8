package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q_window_firsthit's min(struct) first hit equals the row_number() = 1 window (seeded)") {
    // generated lineitem rows with a tie on every prefix of the window's
    // order columns inside one order: first hits must agree however deep
    // the tie-break goes, and a full tie must not matter
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    val order = Seq("l_shipdate", "l_linenumber", "l_partkey", "l_suppkey",
      "l_extendedprice", "l_quantity", "l_returnflag")
    // a row is one index in 0..2 per order column
    val vals = Gen.listOfN(order.size, Gen.choose(0, 2))
    // per order: a base row twice (a tie on all columns), then for each
    // k < 7 a row sharing the base's first k values and differing at k
    val group = for {
      base <- vals
      variants <- Gen.listOfN(order.size, vals)
      extra <- Gen.listOf(vals)
    } yield base :: base :: variants.zipWithIndex.map { case (r, k) =>
      base.take(k) ++ (((base(k) + 1 + r(k) % 2) % 3) :: r.drop(k + 1))
    } ++ extra
    val flags = Vector("A", "N", "R")
    val prop = Prop.forAllNoShrink(Gen.nonEmptyListOf(group)) { orders =>
      val rows = orders.zipWithIndex.flatMap { case (g, key) =>
        g.map { v =>
          (key.toLong, java.sql.Timestamp.valueOf(s"1995-01-0${v(0) + 1} 00:00:00"),
            v(1) + 1, v(2).toLong, v(3).toLong, 10.0 * (v(4) + 1),
            math.pow(10, v(5)), flags(v(6)))
        }
      }
      val dir = tempDir("firsthit")
      rows.toDF("l_orderkey" +: order: _*)
        .write.parquet(s"$dir/lineitem.parquet")
      val naive = Tables.lineitem(spark, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_orderkey").orderBy(order.map(col): _*)))
        .filter(col("rn") === 1)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_first"), round(sum(col("l_quantity")), 2).as("qty_first"))
      def collected(df: org.apache.spark.sql.DataFrame) =
        df.select("l_returnflag", "n_first", "qty_first").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      collected(Queries.relational("q_window_firsthit")(spark, dir)) == collected(naive)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(12).withMaxSize(8).withWorkers(1)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }
}
