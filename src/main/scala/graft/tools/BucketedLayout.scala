package graft.tools

import org.apache.spark.sql.SparkSession

import graft.spark.Queries

/**
 * End-to-end check of the r15 default co-located layout (VERDICT r14
 * item 1): ScaleUp writes lineitem/orders bucketed on orderkey and
 * events on user_id, Queries.prep re-registers the layout from the
 * `_graft_buckets.json` marker in a session that did NOT write the
 * files (the cold-catalog path every later bench session takes), and
 * the orderkey/user_id-grain bench plans consume it exchange-free.
 *
 * Asserts:
 *  - row parity: flat path-read == bucketed catalog-table read;
 *  - q4/q12: ZERO exchanges feeding the join (only the final tiny agg);
 *  - sessions/funnel: ZERO exchanges feeding the user_id window/joins.
 *
 * Usage: runMain graft.tools.BucketedLayout [<dstDir>] [<copies>]
 */
object BucketedLayout {
  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft_bktest")
    val copies = args.lift(1).map(_.toInt).getOrElse(2)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    ScaleUp.run(spark, src = "/root/testdata/sf0.01", dst = dst, copies = copies)

    // Simulate the cold-catalog session the bench actually runs in: drop
    // the tables ScaleUp registered, then force a re-prep through another
    // dir so prep's cache cannot short-circuit the marker path.
    for (t <- Seq("lineitem", "orders", "events"))
      Queries.markedBucketTableName(dst, t).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val qmap = Queries.all.map { case (n, q, _) => n -> q }.toMap
    qmap("b_tpch_q6")(spark, "/root/testdata/sf0.01").count()

    // row parity: the bucketed write must be lossless
    for (t <- Seq("lineitem", "orders", "events")) {
      val flat = spark.read.parquet(s"$dst/$t.parquet").count()
      qmap("b_tpch_q6")(spark, dst).count() // ensures prep registered tables
      val bk = spark.table(Queries.markedBucketTableName(dst, t).get).count()
      assert(flat == bk, s"$t: flat $flat != bucketed $bk")
      println(s"[bucketed-layout] $t rows ok ($bk)")
    }

    def planOf(name: String): String = {
      val df = qmap(name)(spark, dst)
      df.queryExecution.executedPlan.toString
    }
    // a BroadcastExchange is not a data shuffle (desired plan for a small
    // build side), and Exchange SinglePartition moves one row per task
    // (global-count assembly); the exchanges that cost at scale are the
    // hash/range repartitions of real data
    def isShuffle(l: String): Boolean =
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning")
    def exchangesFeedingJoin(plan: String): (Int, Int) = {
      val lines = plan.linesIterator.toSeq
      val joinIx = lines.indexWhere(l => l.contains("MergeJoin") || l.contains("HashJoin"))
      (lines.count(isShuffle),
       if (joinIx < 0) -1 else lines.drop(joinIx + 1).count(isShuffle))
    }
    for (name <- Seq("b_tpch_q4", "b_tpch_q12")) {
      val plan = planOf(name)
      val (total, below) = exchangesFeedingJoin(plan)
      println(s"[bucketed-layout] $name: $total exchange(s), $below feeding the join")
      assert(below == 0, s"$name join must consume the bucket layout exchange-free:\n$plan")
    }
    // sessions: the user_id window must sit directly on the bucketed scan —
    // no exchange between the scan and the Window node
    locally {
      val plan = planOf("b_events_sessions")
      val lines = plan.linesIterator.toSeq
      val winIx = lines.indexWhere(_.contains("Window"))
      val below = lines.drop(winIx + 1).count(isShuffle)
      println(s"[bucketed-layout] b_events_sessions: ${lines.count(isShuffle)} exchange(s), $below below the window")
      assert(winIx >= 0 && below == 0,
        s"sessions window must consume the bucket layout exchange-free:\n$plan")
    }
    // funnel: per-user aggregates and stage joins all ride user_id — with
    // events bucketed on user_id none of them may introduce an exchange
    // below the topmost (count-assembly) nodes
    locally {
      val plan = planOf("b_events_funnel")
      val n = plan.linesIterator.count(isShuffle)
      val onUser = plan.linesIterator.count(l => isShuffle(l) && l.contains("user_id"))
      println(s"[bucketed-layout] b_events_funnel: $n shuffle(s), $onUser on user_id")
      assert(onUser == 0,
        s"funnel per-user aggs/joins must consume the bucket layout exchange-free:\n$plan")
    }
    // timings, for the record
    for (name <- Seq("b_tpch_q4", "b_tpch_q12", "b_events_sessions", "b_events_funnel");
         rep <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = qmap(name)(spark, dst).count()
      println(f"[bucketed-layout] $name rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    println("[bucketed-layout] ALL OK")
    spark.stop()
  }
}
