package graft.tools

import org.apache.spark.sql.SparkSession

import graft.spark.Queries

/** r18 floor lab: time NAMED catalog queries (Queries.all) at a small SF
  * under the exact Bench session profile, printing min-of-N warm reps plus
  * the executed plan's barrier census (exchanges, broadcasts, sorts,
  * aggregates). ShapeLab races raw SQL variants; this races the DISPATCHED
  * query functions themselves — the thing the driver actually times — so a
  * dispatcher taking the wrong branch at the bench SF is visible here
  * before it costs a round.
  *
  * Usage: runMain graft.tools.FloorLab <query names...>
  * A name may repeat: `q a q a` times q and a in alternating blocks.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_REPS (default 5; 0 prints each query's rows instead
  *      of timing it), SPARK_GRAFT_CONF (k=v;k=v),
  *      SPARK_GRAFT_PLAN=1 to dump full executed plans,
  *      SPARK_GRAFT_NOWARM=1 to skip the sf0.001 warmup passes.
  */
object FloorLab {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 1L * 1024 * 1024)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv => val i = kv.indexOf('='); builder.config(kv.take(i), kv.drop(i + 1)) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(5)
    val byName = Queries.all.map { case (n, q, _) => n -> q }.toMap
    val names = args.toSeq.filter(byName.contains)
    args.filterNot(byName.contains).foreach(a => println(s"[floorlab] unknown query: $a"))
    // bench-identical warmup so JIT/codegen state matches the timed window
    if (!sys.env.contains("SPARK_GRAFT_NOWARM"))
      for (_ <- 1 to 2; n <- names)
        try byName(n)(spark, "/root/testdata/sf0.001").count()
        catch { case _: Throwable => () }
    // bench small-section profile
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // in-process conf A/B: SPARK_GRAFT_AB_CONF="k=v[;k=v]" runs every query
    // a second time with the confs applied (reset after), same JVM/window —
    // the only comparison this box's drift allows
    val abConf = sys.env.get("SPARK_GRAFT_AB_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    // SPARK_GRAFT_JOBS=1: per-rep job/stage census via a listener — the
    // only way to SEE eager driver-side jobs (sizing scans, bitset builds,
    // index trains) that never appear in the final query's explain output
    val jobCensus = sys.env.contains("SPARK_GRAFT_JOBS")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    if (jobCensus) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        }
      })
    if (reps == 0) names.foreach { n =>
      println(s"===== $n")
      byName(n)(spark, dir).show(200, truncate = false)
    }
    for (name <- names if reps > 0; ab <- if (abConf.isEmpty) Seq(false) else Seq(false, true)) {
      if (ab) abConf.foreach { case (k, v) => spark.conf.set(k, v) }
      val tag = if (ab) s"$name[AB]" else name
      var best = Double.MaxValue
      var finalPlan = ""
      for (rep <- 1 to reps) {
        // time construction + count, exactly like Bench.timeOnce — some
        // query functions do eager driver-side work (BPE merge loop, index
        // builds) that construction-outside-the-timer would hide
        val t0 = System.nanoTime()
        val (j0, s0) = (jobs.get(), stages.get())
        val df = byName(name)(spark, dir)
        val n = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        best = math.min(best, dt)
        finalPlan = df.queryExecution.executedPlan.toString
        val census =
          if (!jobCensus) ""
          else { // listener events are async; give the bus a beat to drain
            Thread.sleep(150)
            s" jobs=${jobs.get() - j0} stages=${stages.get() - s0}"
          }
        println(f"[floorlab] $tag rep$rep: $dt%.3f s ($n rows)$census")
      }
      val ops = Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
        "Exchange SinglePartition", "BroadcastExchange", "Sort ",
        "HashAggregate", "SortAggregate", "TakeOrderedAndProject",
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "Window")
        .map(op => s"$op=${finalPlan.linesIterator.count(_.contains(op))}")
        .filterNot(_.endsWith("=0"))
      println(f"[floorlab] $tag BEST $best%.3f s ${ops.mkString(" ")}")
      if (sys.env.contains("SPARK_GRAFT_PLAN")) println(finalPlan)
      if (ab) abConf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    spark.stop()
  }
}
