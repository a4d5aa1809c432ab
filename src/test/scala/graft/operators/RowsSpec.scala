package graft.operators

import graft.SparkSpec

/** The distributed row-numbering primitive everything in the sink path
  * rests on: consecutive ids in order, in-place renumbering, the weighted
  * exclusive prefix sum, start offsets, and empty frames — across enough
  * rows to span many range partitions.
  */
class RowsSpec extends SparkSpec {
  import spark.implicits._

  test("consecutive ids follow the order column across partitions") {
    // shuffled input, 10k rows > shuffle partitions so ranges matter
    val df  = (0 until 10000).map(i => ((i * 7919) % 10007, i)).toDF("k", "payload")
    val out = Rows.indexed(df, "k").orderBy("row").collect()
    assert(out.length == 10000)
    assert(out.map(_.getAs[Long]("row")).toSeq == (0L until 10000L))
    // row order must equal k order
    val ks = out.map(_.getAs[Int]("k"))
    assert(ks.sameElements(ks.sorted))
  }

  test("in-place renumbering of sparse keys with a start offset") {
    val df  = Seq(100L, 5L, 900L, 42L).toDF("row")
    val out = Rows.indexed(df, "row", start = 7L).orderBy("row").collect()
    assert(out.map(_.getAs[Long]("row")).toSeq == Seq(7L, 8L, 9L, 10L))
  }

  test("weighted exclusive prefix sum matches a sequential scan") {
    // two weights with different starts, nulls counting 0, on each of the
    // three numbering paths: the driver (a LocalRelation within the row
    // bound), one task (a distributed frame under the size hint) and the
    // range exchange (a byte hint past the one-task budget)
    val in = (0 until 5000).map { i =>
      (((i * 7919) % 10007).toLong,
        if (i % 11 == 0) None else Some((i % 13).toLong),
        if (i % 7 == 0) None else Some((i % 5).toLong))
    }
    val local = in.toDF("k", "w", "v")
    val paths = Seq(
      "driver"   -> (local, -1L),
      "one-task" -> (local.repartition(5), -1L),
      "range"    -> (local.repartition(5), 1L << 40))
    val expected = {
      var (acc, acc2) = (100L, -(1L << 40))
      in.sortBy(_._1).zipWithIndex.map { case ((k, w, v), i) =>
        val out = (k, 7L + i, acc, acc2)
        acc += w.getOrElse(0L); acc2 += v.getOrElse(0L)
        out
      }
    }
    for ((name, (df, bytes)) <- paths) {
      val numbered = Rows.indexed(df, "k", start = 7L,
        weights = Seq(("w", "acc", 100L), ("v", "acc2", -(1L << 40))),
        sizeHint = 5000L, byteHint = bytes)
      val shape =
        if (LocalPlan.onDriver(numbered)) "driver"
        else if (numbered.rdd.getNumPartitions == 1) "one-task"
        else "range"
      assert(shape == name)
      if (name == "driver") {
        // the driver evaluator of the lazy window gives the same rows
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(numbered.schema)
        val onDriver = LocalPlan.rows(numbered).get._2
          .map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("row"), r.getAs[Long]("acc"),
            r.getAs[Long]("acc2")))
        assert(onDriver == expected, "LocalPlan on the driver path")
      }
      val out = numbered.orderBy("k").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("row"), r.getAs[Long]("acc"),
          r.getAs[Long]("acc2"))).toSeq
      assert(out == expected, s"$name path")
    }
  }

  test("empty frames survive") {
    val df  = Seq.empty[(Long, Long)].toDF("k", "w")
    assert(Rows.indexed(df, "k").count() == 0)
    assert(Rows.indexed(df, "k", weights = Seq(("w", "acc", 0L))).count() == 0)
  }

  test("small-hint path: same ids, single partition, exact count") {
    // repartition first: a raw toDF is a LocalRelation and would take the
    // driver fast path — this test pins the DISTRIBUTED small path
    val df = (0 until 2000).map(i => ((i * 7919) % 10007, i))
      .toDF("k", "payload").repartition(5)
    val out = Rows.indexed(df, "k", start = 3L, sizeHint = 2000L)
    assert(out.rdd.getNumPartitions == 1)
    val rows = out.orderBy("row").collect()
    assert(rows.length == 2000)
    assert(rows.map(_.getAs[Long]("row")).toSeq == (3L until 2003L))
    val ks = rows.map(_.getAs[Int]("k"))
    assert(ks.sameElements(ks.sorted))
    // weighted small path: exclusive prefix sum starts at wStart with no
    // stats pass needed by the stamping
    val wdf = (0 until 100).map(i => (i.toLong, (i % 7).toLong)).toDF("k", "w")
    val wout = Rows.indexed(wdf, "k", weights = Seq(("w", "acc", 50L)),
      sizeHint = 100L).orderBy("k").collect()
    var expect = 50L
    wout.foreach { r =>
      assert(r.getAs[Long]("acc") == expect); expect += r.getAs[Long]("w")
    }
  }

  test("driver path: a local frame numbers in a lazy window, zero jobs") {
    val df = Seq((30L, 2L), (10L, 5L), (20L, 3L)).toDF("k", "w")
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = Rows.indexed(df, "k", start = 7L,
        weights = Seq(("w", "acc", 100L)), sizeHint = 3L, slots = Seq("start", "acc"))
      // the RESULT plan still reads the local relation only, so downstream
      // flat transforms keep evaluating on the driver
      assert(LocalPlan.onDriver(out))
      assert(out.queryExecution.analyzed.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isDefined)
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(out.schema)
      def onDriver(slots: Option[String => Long]) = {
        val env = new LocalPlan.Env(Map.empty, slots)
        LocalPlan.eval(out.queryExecution.analyzed, env, Long.MaxValue).get
          .map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("row"), r.getAs[Long]("acc")))
      }
      // same ids/weights the distributed path assigns, in k order
      val expected = Seq((10L, 7L, 100L), (20L, 8L, 105L), (30L, 9L, 108L))
      assert(LocalPlan.rows(out).get._2.size == 3)
      assert(onDriver(None) == expected)
      // the starts are named slots: rebinding them renumbers the same plan
      assert(onDriver(Some(Map("start" -> 70L, "acc" -> 1000L))) ==
        Seq((10L, 70L, 1000L), (20L, 71L, 1005L), (30L, 72L, 1008L)))
      // listener delivery is async: wait until the count is stable
      var prev = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (jobs == prev) stable += 1 else { prev = jobs; stable = 0 }
      }
      assert(jobs == 0, s"driver numbering must launch no Spark job, saw $jobs")
      // and Spark's own execution of the window agrees
      assert(out.orderBy("k").collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[Long]("row"), r.getAs[Long]("acc"))).toSeq == expected)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("byte hint vetoes the small path for wide rows and widens the exchange") {
    val df = (0 until 1000).map(i => (i, i)).toDF("k", "payload")
    // 1000 rows is under every row bound, but 1000 x 1 MB claimed bytes
    // must route to the parallel range path with >1 partition
    val wide = Rows.indexed(df, "k", sizeHint = 1000L, byteHint = 1000L << 20)
    assert(wide.rdd.getNumPartitions > 1)
    assert(wide.orderBy("row").collect().map(_.getAs[Long]("row")).toSeq ==
      (0L until 1000L))
    // and a KNOWN-small byte hint relaxes the row bound for narrow rows
    val narrow = Rows.indexed(
      (0 until 100000).map(i => (i, i)).toDF("k", "p"),
      "k", sizeHint = 100000L, byteHint = 100000L * 8)
    assert(narrow.rdd.getNumPartitions == 1)
  }
}
