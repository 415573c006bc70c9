package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerGroup
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class TopKPerGroupSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("TopKPerGroup equals the row_number window idiom, ties included") {
    val spark0 = spark
    import spark0.implicits._
    // skewed groups, duplicated scores to exercise tie-breaks
    val rows = samples(Gen.zip(
      Gen.frequency(5 -> Gen.const(0), 5 -> Gen.choose(1, 30)),
      Gen.choose(0, 9)), 2000)
      .zipWithIndex.map { case ((g, score), i) => (g, score, i.toLong) }
    val all = rows.toDF("g", "score", "id")
    def rowsOf(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // the grouped form, then the global form (no group columns) against
    // an unpartitioned window, with k > n and an empty input included
    val cases =
      Seq(1, 3, 10).map(k => (Seq("g"), all.repartition(7), k)) ++
      (for (parts <- Seq(1, 7); k <- Seq(1, 3, 10, rows.size + 5))
        yield (Nil, all.repartition(parts), k)) ++
      Seq(1, 7).map(parts => (Nil, all.limit(0).repartition(parts), 3))
    for ((groups, df, k) <- cases) {
      val order = Seq(col("score").desc, col("id"))
      val custom = rowsOf(TopKPerGroup(df, groups.map(col), order, k))
      val window = rowsOf(df.withColumn("rank", row_number().over(
          Window.partitionBy(groups.map(col): _*).orderBy(order: _*)))
        .filter(col("rank") <= k))
      val n = df.rdd.getNumPartitions
      assert(custom == window, s"groups=$groups partitions=$n k=$k")
      assert(window.nonEmpty || df.isEmpty, s"groups=$groups partitions=$n k=$k")
    }
  }

  test("partial stage caps shuffle input at k rows per group per partition") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 10000).map(i => (i % 4, i)).toDF("g", "v").repartition(8)
    val out = TopKPerGroup(df, Seq(col("g")), Seq(col("v").desc), 2)
    assert(out.count() == 8) // 4 groups x k=2
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    // both stages present: partial before the exchange, final after
    assert("TopKPerGroupExec?".r.findAllIn(plan).length >= 2 ||
      plan.split("Exchange").length >= 2)
  }
}
