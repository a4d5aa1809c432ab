package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The driver evaluator of local plans against Spark's own execution of
  * the same frames: every plan it accepts must yield exactly the rows
  * `collect` does, in the same order, and every plan it cannot evaluate
  * faithfully must be refused.
  */
class LocalPlanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tag", StringType),
    StructField("a", ArrayType(LongType)),
    StructField("b", ArrayType(IntegerType)),
    StructField("s", ArrayType(StructType(Seq(
      StructField("x", LongType), StructField("y", StringType)))))))

  /** Null and empty arrays, unequal zip lengths, null elements, null
    * structs inside an array, Long extremes.
    */
  private lazy val frame: DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      Row(1L, "one", Seq(Long.MinValue, 0L, Long.MaxValue), Seq(1, 2, 3),
        Seq(Row(Long.MaxValue, "p"), Row(Long.MinValue, null))),
      Row(2L, null, null, Seq(4), null),
      Row(3L, "three", Seq.empty[Long], Seq.empty[Int], Seq.empty[Row]),
      Row(4L, "four", Seq(7L, 8L), null, Seq(null, Row(5L, "q"))),
      Row(Long.MaxValue, "max", Seq(-1L), Seq(9, 10), Seq(Row(null, null))),
      Row(Long.MinValue, "min", Seq(null, 5L), Seq(11), Seq(Row(0L, "r"))))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def external(df: DataFrame): Option[Seq[Row]] =
    LocalPlan.rows(df).map { case (sch, rs) =>
      assert(sch == df.schema)
      val conv = CatalystTypeConverters.createToScalaConverter(sch)
      rs.map(r => conv(r).asInstanceOf[Row])
    }

  private def same(label: String, df: DataFrame): Unit = {
    val got = external(df)
    assert(got.isDefined, s"$label: a local plan must evaluate on the driver\n" +
      df.queryExecution.optimizedPlan)
    assert(got.get.map(_.toString) == df.collect().toSeq.map(_.toString), label)
  }

  test("explode, posexplode, inline and arrays_zip, outer and not, equal collect") {
    val cases: Seq[(String, DataFrame)] = Seq(
      "explode" -> frame.select(col("id"), explode(col("a"))),
      "explode_outer" -> frame.select(col("id"), explode_outer(col("a"))),
      "posexplode" -> frame.select(col("id"), col("tag"), posexplode(col("b"))),
      "posexplode_outer" -> frame.select(col("id"), posexplode_outer(col("b"))),
      "inline" -> frame.select(col("id"), inline(col("s"))),
      "inline_outer" -> frame.select(col("tag"), inline_outer(col("s"))),
      "posexplode(arrays_zip)" -> frame
        .select(col("id"), posexplode(arrays_zip(col("a"), col("b"))))
        .select(col("id"), col("pos"), col("col.a").as("a"), col("col.b").as("b")),
      "posexplode_outer(arrays_zip)" -> frame
        .select(col("id"), posexplode_outer(arrays_zip(col("a"), col("b"))))
        .select((col("pos") * 4294967296L).bitwiseXOR(col("id")).as("k"),
          col("col.b").as("b")),
      "explode_outer(arrays_zip)" -> frame
        .select(col("tag"), explode_outer(arrays_zip(col("b"), col("a")))),
      // pruned child columns: the Generate keeps only what the top needs
      "pruned child" -> frame.select(col("id"), col("tag"), col("a"), col("b"),
          posexplode(col("a")))
        .select(col("tag"), col("col")),
      "no child column" -> frame.select(explode(col("b")).as("v")),
      "filter + project under and over a generate" -> frame
        .filter(size(col("b")) > 0)
        .withColumn("n", size(col("a")).cast("long"))
        .select(col("id"), col("n"), posexplode(col("b")))
        .filter(col("pos") =!= 1)
        .select(col("id"), (col("col") + col("n")).as("v")),
      "stable literal" -> frame.select(col("id"), explode(col("a")))
        .select(col("col").bitwiseXOR(graft.functions.StableLong.stableLit(Long.MinValue))
          .as("v")),
      "empty relation" -> frame.filter(lit(false)).select(col("id"), explode(col("a")))
    )
    cases.foreach { case (label, df) => same(label, df) }
  }

  test("grouped first/last aggregates (da00's pivot) equal collect; other aggregates are refused") {
    import scala.jdk.CollectionConverters._
    // per message one row per variable; message 2 lacks `b`, message 3
    // carries a variable no pivot value names
    val vars = StructType(Seq(StructField("offset", LongType), StructField("ts", LongType),
      StructField("name", StringType), StructField("data", ArrayType(DoubleType))))
    val msgs = spark.createDataFrame(Seq(
      Row(1L, 10L, "a", Seq(1.0, 2.0)), Row(1L, 10L, "b", Seq(3.0)),
      Row(2L, 20L, "a", null), Row(3L, 30L, "c", Seq(4.0)), Row(3L, 30L, "b", Seq.empty[Double]),
      Row(4L, 40L, "b", Seq(5.0)), Row(4L, 40L, "a", Seq(6.0, Double.NaN))).asJava, vars)
    def sorted(rs: Seq[Row]) = rs.map(_.toString).sorted
    val cases: Seq[(String, DataFrame)] = Seq(
      "pivot" -> msgs.groupBy(col("offset"), col("ts")).pivot(col("name"), Seq("a", "b"))
        .agg(first(col("data"))),
      "first and last per unique key" -> frame.groupBy(col("id"))
        .agg(first(col("a")), last(col("tag")), first(col("b"), ignoreNulls = true)),
      "grouped, then projected" -> frame.groupBy(col("id")).agg(first(col("tag")).as("t"))
        .select((col("id") % 5).as("i"), concat(col("t"), lit("!")).as("t")))
    cases.foreach { case (label, df) =>
      val got = external(df)
      assert(got.isDefined, s"$label: must evaluate on the driver\n" +
        df.queryExecution.optimizedPlan)
      assert(sorted(got.get) == sorted(df.collect().toSeq), label)
    }
    val refused: Seq[(String, DataFrame)] = Seq(
      "count" -> frame.groupBy(col("tag")).agg(count(lit(1))),
      "global aggregate" -> frame.agg(first(col("a"))),
      "array key" -> frame.groupBy(col("a")).agg(first(col("id"))))
    refused.foreach { case (label, df) =>
      assert(LocalPlan.rows(df).isEmpty, s"$label must not evaluate on the driver")
    }
  }

  test("the numbering window: row_number and exclusive running sums equal collect; other windows are refused") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.expressions.Window
    // unsorted offsets, several weights, null weights counting 0, an int
    // weight, and starts near Long.MaxValue/2
    val wSchema = StructType(Seq(StructField("offset", LongType), StructField("w1", LongType),
      StructField("w2", LongType), StructField("w3", IntegerType), StructField("tag", StringType)))
    val msgs = spark.createDataFrame(Seq(
      Row(40L, 3L, null, 7, "d"), Row(10L, null, 5L, null, "a"), Row(30L, 1L, 2L, 1, null),
      Row(20L, 1000000007L, null, -4, "b"), Row(Long.MaxValue / 4, 0L, 9L, 2, "e"),
      Row(-5L, null, null, null, "z")).asJava, wSchema)
    val half = Long.MaxValue / 2
    val cases: Seq[(String, DataFrame)] = Seq(
      "three weights" -> Rows.indexed(msgs, "offset", start = half,
        weights = Seq(("w1", "f1", half - 7), ("w2", "f2", -half), ("w3", "f3", 0L))),
      "in-place row over the order column" -> Rows.indexed(msgs.select(col("offset"), col("tag")),
        "offset", rowCol = "offset", start = half + 1),
      "all-null weight" -> Rows.indexed(msgs.filter(col("w1").isNull), "offset",
        weights = Seq(("w1", "f1", half))),
      "empty" -> Rows.indexed(msgs.filter(lit(false)), "offset",
        weights = Seq(("w2", "f2", 1L))),
      "numbered, then exploded" -> Rows.indexed(msgs, "offset", start = 3L,
          weights = Seq(("w3", "first", half)))
        .select(col("row"), col("first"), explode(array(col("tag"), lit("x"))).as("t")))
    cases.foreach { case (label, df) =>
      assert(LocalPlan.onDriver(df), label)
      same(label, df)
    }
    val byOffset = Window.orderBy(col("offset"))
    val refused: Seq[(String, DataFrame)] = Seq(
      "partitioned" -> msgs.withColumn("r", row_number().over(Window.partitionBy(col("tag"))
        .orderBy(col("offset")))),
      "rank" -> msgs.withColumn("r", rank().over(byOffset)),
      "range frame" -> msgs.withColumn("s", sum(col("w1")).over(byOffset)),
      "frame to a following row" -> msgs.withColumn("s", sum(col("w1"))
        .over(byOffset.rowsBetween(Window.unboundedPreceding, 1))),
      "double sum" -> msgs.withColumn("s", sum(col("w1").cast("double"))
        .over(byOffset.rowsBetween(Window.unboundedPreceding, -1))),
      "lag" -> msgs.withColumn("p", lag(col("w1"), 1).over(byOffset)))
    refused.foreach { case (label, df) =>
      assert(LocalPlan.rows(df).isEmpty, s"$label must not evaluate on the driver")
      df.collect() // Spark itself still runs it
    }
  }

  test("unions by name (a buffered message under a drifted schema) equal collect") {
    val narrow = frame.select(col("tag"), col("id"))
    val cases: Seq[(String, DataFrame)] = Seq(
      "missing on the right" -> frame.unionByName(narrow, allowMissingColumns = true),
      "missing on the left" -> narrow.unionByName(frame, allowMissingColumns = true),
      "coerced types" -> frame.select(col("id")).unionByName(
        frame.select(try_element_at(col("b"), lit(1)).as("id"))),
      "then exploded" -> frame.unionByName(narrow, allowMissingColumns = true)
        .select(col("id"), explode_outer(col("a"))))
    cases.foreach { case (label, df) => same(label, df) }
  }

  test("generated rows past maxRows refuse the plan") {
    val df = frame.select(col("id"), explode(col("a")))
    val n = df.collect().length
    assert(LocalPlan.rows(df, maxRows = n).exists(_._2.size == n))
    assert(LocalPlan.rows(df, maxRows = n - 1).isEmpty)
  }

  test("nondeterministic, unevaluable and non-local plans are refused") {
    // over a Generate, which Spark leaves unfolded: a Project or Filter
    // directly over the relation Spark folds itself, nondeterminism and all
    val exploded = frame.select(col("id"), explode(col("a")))
    val refused: Seq[(String, DataFrame)] = Seq(
      "rand" -> exploded.select(col("id"), rand(7).as("r")),
      "monotonically_increasing_id" -> exploded.withColumn("m", monotonically_increasing_id()),
      "nondeterministic filter" -> exploded.filter(rand(3) > 0.5),
      "scalar subquery" -> exploded.select(col("col"),
        expr("(SELECT max(id) FROM range(3))").as("m")),
      "sort" -> exploded.orderBy(col("col")),
      "distributed leaf" -> spark.range(5).select(col("id"), explode(array(col("id")))))
    refused.foreach { case (label, df) =>
      assert(LocalPlan.rows(df).isEmpty, s"$label must not evaluate on the driver")
      df.collect() // Spark itself still runs it
    }
  }
}
