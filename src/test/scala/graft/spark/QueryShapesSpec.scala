package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every relational dispatcher (q1, q3, q4, q5, q12, funnel, hourly)
  * picks one SQL shape per input size or layout, so the oracle gate
  * sees only the branch its SF dispatches. Each test pins the branch
  * a small flat dir takes and asserts every other registered shape of the
  * same query bag-equal to the dispatched row. */
class QueryShapesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-query-shapes").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q3 filter-first and pre-agg-first shapes return identical rows") {
    Queries.prep(spark, "/root/testdata/sf0.001")
    val a = spark.sql(Queries.q3FilterFirst).collect().map(_.toSeq).toSeq
    val b = spark.sql(Queries.q3PreAggFirst).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(a === b)
  }

  private lazy val qmap = Queries.all.map { case (n, q, _) => n -> q }.toMap

  test("q5 dispatcher: small dir takes the broadcast-dim supplier pre-agg; the unhinted pre-agg agrees") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_tpch_q5")(spark, dir)
    // the forced BROADCAST(d) hint survives into the optimized join
    assert(dispatched.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "a 10-row supplier table must take the broadcast-hinted dim shape")
    val supp = qmap("b_tpch_q5_supp")(spark, dir)
    assert(!supp.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "the unhinted pre-agg carries no hint, so the plan check above discriminates")
    val want = dispatched.collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(supp.collect().map(_.toSeq).toSeq === want,
      "unhinted supplier pre-agg must agree with the dispatched q5")
  }

  test("q3 dispatcher: small flat dir takes the both-dims-broadcast shape; all branches agree") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_tpch_q3")(spark, dir)
    val plan = dispatched.queryExecution.executedPlan.toString
    // the bcast-both shape joins lineitem to TWO broadcasts in one stage;
    // filter-first would show a bo-subquery aggregate feeding the join
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"small flat q3 must broadcast both dims:\n$plan")
    val want = dispatched.collect().map(_.toSeq).toSeq
    for (v <- Seq("b_tpch_q3_bcast", "b_tpch_q3_ff", "b_tpch_q3_preagg"))
      assert(qmap(v)(spark, dir).collect().map(_.toSeq).toSeq === want,
        s"$v must agree with the dispatched q3")
  }

  test("q4 dispatcher: small flat dir takes the broadcast-orders shape; all branches agree") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_tpch_q4")(spark, dir)
    val plan = dispatched.queryExecution.optimizedPlan.toString
    // the broadcast-orders shape has NO semi join — the dedup is a
    // (orderkey, priority) aggregate below the priority count
    assert(!plan.contains("LeftSemi"),
      s"small flat q4 must take the broadcast-orders inner-join shape:\n$plan")
    val want = dispatched.collect().map(_.toSeq).toSeq
    for (v <- Seq("b_tpch_q4_bcast", "b_tpch_q4_exists", "b_tpch_q4_indistinct"))
      assert(qmap(v)(spark, dir).collect().map(_.toSeq).toSeq === want,
        s"$v must agree with the dispatched q4")
  }

  test("prep reports the sorted layout: bucket-key SMJ on a REAL bucketed dir has no Sort operators") {
    // ADVICE r17: the conf-only assertion never exercised the headline
    // no-Sort streaming-merge behavior against an actual bucketed layout.
    // Build one (ScaleUp at copies=1 = identity copy, sorted marker),
    // re-register cold, and pin the executed plan.
    val dst = java.nio.file.Files.createTempDirectory("graft_qshapes_bk").toString
    try {
      graft.tools.ScaleUp.run(spark, src = "/root/testdata/sf0.001", dst = dst, copies = 1)
      for (t <- Seq("lineitem", "orders", "events"))
        Queries.markedBucketTableName(dst, t).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      Queries.prep(spark, dst)
      // the confs are now gated on the marker's sorted flag (ADVICE r17)
      assert(spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") === "true")
      assert(spark.conf.get("spark.sql.execution.replaceHashWithSortAgg") === "true")
      // at sf0.001 the tiny orders side would auto-broadcast; disable the
      // threshold so the planner takes the join path the claim is about
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = qmap("b_tpch_q12")(spark, dst)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      assert(lines.exists(_.contains("SortMergeJoin")),
        s"bucketed q12 must plan the streaming merge:\n$plan")
      assert(!lines.exists(_.contains("Sort [")),
        s"the sorted bucket scans must feed the merge with NO Sort operators:\n$plan")
      val joinIx = lines.indexWhere(_.contains("SortMergeJoin"))
      assert(lines.drop(joinIx + 1).count(l => l.contains("Exchange hashpartitioning")) === 0,
        s"the bucket-key merge must be exchange-free:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dst))
    }
  }

  test("q1 dispatcher: small flat dir takes the single-level shape; salted branch agrees") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_tpch_q1")(spark, dir)
    assert(!dispatched.queryExecution.optimizedPlan.toString.contains("pmod"),
      "small input must take the single-level q1 shape (no salt)")
    val want = dispatched.collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(qmap("b_tpch_q1_salted")(spark, dir).collect().map(_.toSeq).toSeq === want,
      "salted q1 branch must agree with the dispatched q1")
  }

  test("q12 dispatcher: small flat dir takes the narrow-broadcast shape; branches agree") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_tpch_q12")(spark, dir)
    val plan = dispatched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small flat q12 must broadcast the narrow orders build:\n$plan")
    val want = dispatched.collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(qmap("b_tpch_q12_narrow")(spark, dir).collect().map(_.toSeq).toSeq === want,
      "narrow q12 branch must agree with the dispatched q12")
  }

  test("funnel dispatcher: small flat dir takes the single-scan fold; all shapes agree") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    val dispatched = qmap("b_events_funnel")(spark, dir)
    // the fold is one scan + collect_list; the staged shape would plan
    // three separate events scans with per-stage joins
    assert(dispatched.queryExecution.optimizedPlan.toString.contains("collect_list"),
      "a small flat events table must dispatch to the array-fold shape")
    val f = dispatched.collect().map(_.toSeq).toSeq
    for (v <- Seq("b_events_funnel_staged", "b_events_funnel_fold"))
      assert(qmap(v)(spark, dir).collect().map(_.toSeq).toSeq === f,
        s"$v must agree with the dispatched funnel")
  }

  test("hourly dispatcher: small flat dir takes the exchange-free one-stage rollup; two-level agrees") {
    val dir = "/root/testdata/sf0.001"
    Queries.prep(spark, dir)
    def bag(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val dispatched = qmap("b_events_hourly")(spark, dir)
    val got = dispatched.collect()
    val plan = dispatched.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"small flat hourly must run as one COALESCE(1) stage with no exchange:\n$plan")
    val wide = qmap("b_events_hourly_wide")(spark, dir)
    val want = wide.collect()
    assert(wide.queryExecution.executedPlan.toString.contains("Exchange"),
      "the two-level rollup shuffles, so the plan check above discriminates")
    assert(got.nonEmpty)
    assert(bag(got) === bag(want), "two-level hourly must be bag-equal to the dispatched hourly")
  }
}
