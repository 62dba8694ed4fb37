package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{
  Add, AttributeReference, EqualNullSafe, GreaterThan, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.ingest.FixtureGranuleSource
import graft.plans.{BindFilterConstants, BoundConstant}

/** Filter constants as codegen parameters: searches that differ only
  * in constants reuse the classes the first one compiled, and the
  * bound plan returns exactly the rows of the literal plan. */
class BindFilterConstantsSpec extends SparkSpec {

  private lazy val items: DataFrame = {
    val tmp = Files.createTempDirectory("graft-bind").toString + "/items"
    val (built, _) = ItemAssembly.assemble(
      new FixtureGranuleSource(end = "2022-05-01 02:59:59").granules(spark))
    CatalogStore.write(built, tmp)
    CatalogStore.read(spark, tmp)
  }

  /** Janino compiles (codegen cache misses) while `f` runs. */
  private def compiles(f: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private val base = CatalogQuery.Search(
    bbox = Some((-60.0, -40.0, 60.0, 40.0)),
    interval = Some((ts("2022-05-01 00:30:00"), ts("2022-05-01 02:00:00"))),
    cql2 = Some("bbox_n >= 20 AND bbox_s < 85.5"),
    sortBy = Seq(("start_datetime", true)), limit = 2)

  private def page(q: CatalogQuery.Search, token: Option[String] = None) =
    FeatureCollection.page(items, q, token)

  test("a search differing only in constants compiles nothing new") {
    val first = page(base)
    assert(first.numberReturned == 2)
    val variants = Seq(
      "bbox" -> base.copy(bbox = Some((-50.5, -35.0, 70.25, 45.0))),
      "datetime" -> base.copy(interval =
        Some((ts("2022-05-01 00:10:00"), ts("2022-05-01 02:40:00")))),
      "cql2 numbers" -> base.copy(
        cql2 = Some("bbox_n >= 12.5 AND bbox_s < 80")))
    variants.foreach { case (what, q) =>
      val n = compiles(assert(page(q).numberReturned > 0))
      assert(n == 0, s"$what: $n new compiles")
    }
    // keyset paging: page 2 warms the token shape, page 3 reuses it
    val p2 = page(base, first.nextToken)
    assert(p2.numberReturned == 2)
    val n = compiles(assert(page(base, p2.nextToken).numberReturned > 0))
    assert(n == 0, s"page token: $n new compiles")
  }

  test("/aggregations over a different interval compiles nothing new") {
    val server = new StacApiServer(items)
    val uri = server.start()
    val http = HttpClient.newHttpClient()
    def aggs(from: String, to: String): String = {
      val r = http.send(HttpRequest.newBuilder(URI.create(
        s"$uri/aggregations?datetime=2022-05-01T$from:00Z/2022-05-01T$to:00Z"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    try {
      aggs("00:00", "00:59")
      val n = compiles(assert(aggs("01:15", "02:45").contains("total_count")))
      assert(n == 0, s"$n new compiles")
    } finally server.stop()
  }

  // ---- parity: the bound plan against the same plan with literals ----

  private val schema = StructType(Seq(
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("s", ShortType), StructField("y", ByteType),
    StructField("b", BooleanType), StructField("dt", DateType),
    StructField("t", TimestampType), StructField("n", TimestampNTZType)))

  private lazy val data: DataFrame = {
    val ds = Seq(Double.NaN, 0.0, -0.0, 1.5, -1.5, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, null)
    val ls = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, null)
    val rows = (0 until 54).map { k =>
      def pick[A](xs: Seq[A], salt: Int) = xs((k * salt + k / 7) % xs.length)
      val d = pick(ds, 1)
      Row(d, if (d == null) null else d.asInstanceOf[Double].toFloat,
        pick(ls, 5), pick(Seq(Int.MinValue, Int.MaxValue, 0, 7, null), 3),
        pick(Seq(Short.MinValue, Short.MaxValue, 0.toShort), 2),
        pick(Seq(Byte.MinValue, Byte.MaxValue, 3.toByte), 4),
        pick(Seq(true, false, null), 2),
        pick(Seq(Date.valueOf("1970-01-01"), Date.valueOf("2022-05-01"),
          Date.valueOf("0001-01-01"), null), 3),
        pick(Seq(ts("2022-05-01 00:00:00"), ts("1969-12-31 23:59:59.999999"),
          null), 5),
        pick(Seq(java.time.LocalDateTime.of(2022, 5, 1, 0, 0),
          java.time.LocalDateTime.of(1900, 1, 1, 12, 0), null), 7))
    }
    // an RDD relation: a local one would be filtered by the optimizer
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val predicates: Seq[(String, Column)] = Seq(
    "NaN =" -> (col("d") === lit(Double.NaN)),
    "NaN >=" -> (col("d") >= lit(Double.NaN)),
    "float NaN <" -> (col("f") < lit(Float.NaN)),
    "+0.0 =" -> (col("d") === lit(0.0)),
    "-0.0 =" -> (col("d") === lit(-0.0)),
    "-0.0 <" -> (col("d") < lit(-0.0)),
    "-0.0f <=>" -> col("f").eqNullSafe(lit(-0.0f)),
    "+inf <" -> (lit(Double.PositiveInfinity) > col("d")),
    "min long" -> (col("l") > lit(Long.MinValue)),
    "max long" -> (col("l") === lit(Long.MaxValue)),
    "min int" -> (col("i") <= lit(Int.MinValue)),
    "short" -> (col("s") < lit(Short.MaxValue)),
    "byte" -> (col("y") =!= lit(Byte.MinValue)),
    "boolean" -> (col("b") > lit(false)),
    "boolean <=>" -> col("b").eqNullSafe(lit(false)),
    "date" -> (col("dt") >= lit(Date.valueOf("1970-01-01"))),
    "timestamp" -> (col("t") < lit(ts("2022-05-01 00:00:00"))),
    "timestamp_ntz" ->
      (col("n") > lit(java.time.LocalDateTime.of(2000, 1, 1, 0, 0))),
    "nested in case" -> when(col("d") > lit(1.0), col("l") < lit(0L))
      .otherwise(col("i") >= lit(0)))

  private def unbind(p: SparkPlan): SparkPlan =
    p.transformAllExpressions { case b: BoundConstant => b.lit }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Rows of the executed plan and of the same plan with literals. */
  private def onOff(pred: Column) = {
    // AQE off: executedPlan is then the full plan, rewritable in place
    val plan = data.filter(pred).queryExecution.executedPlan
    assert(plan.toString.contains("bound("), plan.toString)
    (plan.executeCollect().map(_.toString).sorted.toSeq,
      unbind(plan).executeCollect().map(_.toString).sorted.toSeq)
  }

  for ((mode, confs) <- Seq(
      "whole-stage codegen" -> Seq.empty[(String, String)],
      "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
    test(s"bound and literal plans return identical rows ($mode)") {
      withConf(("spark.sql.adaptive.enabled" -> "false") +: confs: _*) {
        var matched = 0
        predicates.foreach { case (name, pred) =>
          val (on, off) = onOff(pred)
          assert(on == off, s"$name: ${on.size} vs ${off.size} rows")
          if (on.nonEmpty) matched += 1
        }
        // the fixture must exercise both sides of most predicates
        assert(matched >= predicates.size - 3, s"only $matched non-empty")
      }
    }
  }

  test("without binding, each new constant compiles a new class") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      def planFor(c: Double) =
        data.filter(col("d") > lit(c)).queryExecution.executedPlan
      planFor(-1.0).executeCollect() // warms the bound shape
      // a constant this JVM has not compiled before
      val plan = planFor(System.nanoTime().toDouble / 7.0)
      assert(compiles(plan.executeCollect()) == 0)
      val literal = unbind(plan)
      assert(!literal.toString.contains("bound("))
      assert(compiles(literal.executeCollect()) >= 1)
    }
  }

  test("null literals and non-comparison constants stay literals") {
    val d = AttributeReference("d", DoubleType)()
    val nullCmp = GreaterThan(d, Literal(null, DoubleType))
    assert(BindFilterConstants.bind(nullCmp) == nullCmp)
    val nullSafe = EqualNullSafe(d, Literal(null, DoubleType))
    assert(BindFilterConstants.bind(nullSafe) == nullSafe)
    val arith = GreaterThan(Add(d, Literal(1.0)), d)
    assert(BindFilterConstants.bind(arith) == arith)
    val str = GreaterThan(AttributeReference("s", StringType)(), Literal("a"))
    assert(BindFilterConstants.bind(str) == str)
    assert(BindFilterConstants.bind(GreaterThan(d, Literal(2.0))) ==
      GreaterThan(d, BoundConstant(Literal(2.0))))
  }
}
