package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.BboxOverlaps.bboxOverlaps

/** The custom optimizer rule: bbox_overlaps joins rewritten from
  * nested-loop to bucketed equi-join, with identical results. */
class BboxRuleSpec extends SparkSpec {

  private def boxes(n: Int, seed: Int, prefix: String): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val w = rnd.nextDouble() * 300 - 150
      val s = rnd.nextDouble() * 140 - 70
      (i.toLong, w, s, w + rnd.nextDouble() * 30, s + rnd.nextDouble() * 20)
    }.toDF(s"${prefix}id", s"${prefix}w", s"${prefix}s",
      s"${prefix}e", s"${prefix}n")
  }

  private def markerJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, bboxOverlaps(
      col("aw"), col("as"), col("ae"), col("an"),
      col("bw"), col("bs"), col("be"), col("bn")))

  test("marker predicate joins correctly without the rule (fallback)") {
    // the shared session installs the rule through GraftExtensions;
    // exclude it so the marker runs as the plain nested-loop predicate
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, graft.plans.RewriteBboxOverlapJoin.ruleName)
    try {
      val a = boxes(40, 1, "a")
      val b = boxes(30, 2, "b")
      val naive = a.join(b,
        col("aw") <= col("be") && col("bw") <= col("ae") &&
          col("as") <= col("bn") && col("bs") <= col("an"))
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val joined = markerJoin(a, b)
      assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"), "rule must not fire")
      val marker = joined.select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(marker == naive)
      assert(naive.nonEmpty)
    } finally spark.conf.unset(excluded)
  }

  test("rule rewrites the join to equi-join with identical results") {
    GraftExtensions.register(spark)
    try {
      val a = boxes(60, 3, "a")
      val b = boxes(50, 4, "b")
      val joined = markerJoin(a, b)
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin"),
        s"rule must eliminate BNLJ:\n$physical")
      assert(physical.contains("Generate"), "bucketed explode present")
      val naive = a.join(b,
        col("aw") <= col("be") && col("bw") <= col("ae") &&
          col("as") <= col("bn") && col("bs") <= col("an"))
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ruled = joined.select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ruled == naive,
        s"rewritten ${ruled.size} pairs vs naive ${naive.size}")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteBboxOverlapJoin)
    }
  }

  test("rule preserves row multiplicity (duplicate inputs)") {
    GraftExtensions.register(spark)
    try {
      import spark.implicits._
      // two identical left rows must each match
      val a = Seq((1L, 0.0, 0.0, 5.0, 5.0), (1L, 0.0, 0.0, 5.0, 5.0))
        .toDF("aid", "aw", "as", "ae", "an")
      val b = Seq((9L, 1.0, 1.0, 2.0, 2.0)).toDF("bid", "bw", "bs", "be", "bn")
      assert(markerJoin(a, b).count() == 2)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteBboxOverlapJoin)
    }
  }

  test("rule handles extra conjuncts alongside the marker") {
    GraftExtensions.register(spark)
    try {
      val a = boxes(50, 5, "a")
      val b = boxes(40, 6, "b")
      val joined = a.join(b, bboxOverlaps(
        col("aw"), col("as"), col("ae"), col("an"),
        col("bw"), col("bs"), col("be"), col("bn")) &&
        col("aid") =!= col("bid"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin"),
        "rule must fire with extra ANDed conjuncts")
      val naive = a.join(b,
        col("aw") <= col("be") && col("bw") <= col("ae") &&
          col("as") <= col("bn") && col("bs") <= col("an") &&
          col("aid") =!= col("bid"))
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ruled = joined.select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ruled == naive)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteBboxOverlapJoin)
    }
  }

  test("bbox_overlaps is callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT bbox_overlaps(0D, 0D, 5D, 5D, 4D, 4D, 9D, 9D) AS o").collect()
    assert(r(0).getBoolean(0))
    // integer literals coerce instead of failing type-check
    val r2 = spark.sql(
      "SELECT bbox_overlaps(0, 0, 5, 5, 6, 6, 9, 9) AS o").collect()
    assert(!r2(0).getBoolean(0))
  }

  test("rule survives fill values and NaN coordinates") {
    GraftExtensions.register(spark)
    try {
      import spark.implicits._
      val a = Seq(
        (1L, 0.0, 0.0, 5.0, 5.0),
        (2L, 9.969e36, 0.0, 9.969e36, 5.0), // NetCDF fill value
        (3L, Double.NaN, 0.0, 5.0, 5.0)
      ).toDF("aid", "aw", "as", "ae", "an")
      val b = Seq((9L, 1.0, 1.0, 2.0, 2.0)).toDF("bid", "bw", "bs", "be", "bn")
      // must not throw (ANSI cast overflow) — row 1 matches, row 2's
      // west bound exceeds everything, so no match
      val got = markerJoin(a, b).select("aid").collect().map(_.getLong(0))
      assert(got.contains(1L))
      assert(!got.contains(2L))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteBboxOverlapJoin)
    }
  }
}
