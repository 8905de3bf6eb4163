package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.spark.{S2Boxes, S2Functions}

/** The benchmark run inside one JVM: one closed-loop client, `local[threads]`.
  *
  *   set-up (several times) -> timed window -> checks -> [traced extras] -> JSON
  *
  * The window runs passes over the workload's queries: pass 0 is the cold
  * pass (declaration order), then the workload's warm-up passes, then measured
  * warm reps in a seed-shuffled order, until `--seconds` have gone by (at
  * least three measured passes). With `--trace 1` measured passes are traced
  * or untraced in an ABBA order (two of each at least), the per-layer
  * numbers come from the traced ones, and the ratio of the two is the
  * tracing overhead. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        threads: Int = 4, work: String = "", out: String = "", data: Option[String] = None,
                        toy: Boolean = false, corrupt: Boolean = false, genOnly: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--threads" :: v :: t => parse(t, o.copy(threads = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--data" :: v :: t => parse(t, o.copy(data = Some(v)))
    case "--toy" :: t => parse(t, o.copy(toy = true))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case "--gen-only" :: t => parse(t, o.copy(genOnly = true))
    case Nil => o
    case other => sys.error(s"unknown argument ${other.head}")
  }

  final case class Rep(q: Q, pass: Int, traced: Boolean, group: String, t0: Long, tPlan: Long, tEnd: Long,
                       fp: Option[Fp], error: Option[String], executed: Option[DataFrame]) {
    def secs: Double = (tEnd - t0) / 1e9
    def planS: Double = (tPlan - t0) / 1e9
    def execS: Double = (tEnd - tPlan) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.threads}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      // the scan/codegen profile graft.Bench measures with
      .config("spark.sql.files.maxPartitionBytes", (32L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.register(spark)
    S2Boxes.register(spark)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val tGen0 = System.nanoTime()
    val w = Workloads(o.workload, o.seed, o.toy, o.data)
    val desc = w.describe // generates the in-memory inputs
    if (o.genOnly) {
      println(s"digest ${desc.getOrElse("digest", "")}")
      return
    }
    val genMemS = (System.nanoTime() - tGen0) / 1e9
    val inputs = new File(o.work, "inputs"); inputs.mkdirs()
    println(s"[bench] ${o.workload} seed=${o.seed} digest=${desc.getOrElse("digest", "-")}")

    // ---- set-up, several times; generation is excluded
    val setups = mutable.ArrayBuffer[Double]()
    val t1 = System.nanoTime()
    var spark = session(o)
    val t2 = System.nanoTime()
    w.generate(spark, inputs)
    val t3 = System.nanoTime()
    w.open(spark, inputs)
    val t4 = System.nanoTime()
    val jvmToT1 = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - (t4 - t1) / 1e9
    setups += jvmToT1 - genMemS + (t2 - t1) / 1e9 + (t4 - t3) / 1e9
    val genS = genMemS + (t3 - t2) / 1e9
    for (_ <- 1 until Setups) {
      stop(spark)
      val s0 = System.nanoTime()
      spark = session(o)
      w.open(spark, inputs)
      setups += (System.nanoTime() - s0) / 1e9
    }
    val sc = spark.sparkContext
    val listener = if (o.trace) Some(new StageListener("t:")) else None
    listener.foreach(sc.addSparkListener)

    // ---- timed window
    val qs = w.queries
    val reps = mutable.ArrayBuffer[Rep]()
    val firstRows = mutable.HashMap[String, Array[Row]]()
    val firstCols = mutable.HashMap[String, Array[String]]()
    val refFp = mutable.HashMap[String, Fp]()
    val rng = new java.util.Random(o.seed)
    val w0 = System.nanoTime()
    val deadline = w0 + o.seconds * 1000000000L
    var pass = 0
    // pass 0 is cold; the warm-up passes let the JIT settle (the first warm
    // pass ran 20-30% slower than the next in every run) and are not measured
    val firstWarm = 1 + w.warmupPasses
    def warmPasses(traced: Boolean) = reps.filter(r => r.pass >= firstWarm && r.traced == traced).map(_.pass).distinct.size
    def morePasses: Boolean =
      pass < firstWarm || System.nanoTime() < deadline ||
        (if (o.trace) warmPasses(true) < 2 || warmPasses(false) < 2 else warmPasses(false) < 3)
    while (morePasses) {
      // traced runs: measured passes traced in an ABBA order so drift
      // loads neither side of the overhead comparison
      val traced = o.trace && pass >= firstWarm && ((pass - firstWarm) % 4 == 0 || (pass - firstWarm) % 4 == 3)
      // the cold pass runs in declaration order, so each query's first
      // execution pays the same share of JIT and codegen warm-up in every
      // run; warm passes are shuffled by the seed
      val timed = qs.filterNot(_.traceOnly)
      val order = if (pass == 0) timed else scala.util.Random.javaRandomToRandom(rng).shuffle(timed)
      for (q <- order) {
        val group = s"${if (traced) "t" else "u"}:${q.name}:$pass"
        sc.setJobGroup(group, q.name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        var tp = t0
        // the first execution of a query collects its rows (the checked
        // result, fingerprinted after the clock stops); later ones run the
        // one-row fingerprint action
        val (fp, rows, err, ex) =
          try {
            val df = q.plan(spark)
            tp = System.nanoTime()
            q.run match {
              case Some(f) => (Some(f(df)), None, None, Some(df))
              case None if pass == 0 => (None, Some(df.collect()), None, Some(df))
              case None => val (f, agg) = Fp.run(df); (Some(f), None, None, Some(agg))
            }
          } catch { case e: Throwable => (None, None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), None) }
        val tEnd = System.nanoTime()
        sc.clearJobGroup()
        System.err.println(f"[rep] ${q.name}%-22s pass $pass%d ${(tEnd - t0) / 1e9}%.3f s${err.map(" " + _).getOrElse("")}")
        val rowsFp = for (r <- rows; d <- ex) yield {
          firstRows(q.name) = r; firstCols(q.name) = d.columns
          Fp.run(spark.createDataFrame(java.util.Arrays.asList(r: _*), d.schema))._1
        }
        reps += Rep(q, pass, traced, group, t0, if (tp == t0) tEnd else tp, tEnd, fp.orElse(rowsFp), err,
          if (traced) ex else None)
      }
      pass += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val rssMb = vmHwmMb
    // queries too heavy for every pass run once, traced, after the window
    val oneOffRows = mutable.HashMap[String, Array[Row]]()
    if (o.trace) for (q <- qs.filter(_.traceOnly)) {
      val group = s"t:${q.name}:once"
      sc.setJobGroup(group, q.name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val df = q.plan(spark)
      val tp = System.nanoTime()
      val rows = df.collect()
      val tEnd = System.nanoTime()
      sc.clearJobGroup()
      oneOffRows(q.name) = rows; firstCols(q.name) = df.columns
      refFp(q.name) = Fp.run(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))._1
      reps += Rep(q, -1, traced = true, group, t0, tp, tEnd, refFp.get(q.name), None, Some(df))
    }
    val tChecks = System.nanoTime()
    if (o.corrupt) { // self-test hook: one wrong result must count as failed
      val i = reps.lastIndexWhere(_.fp.isDefined)
      reps(i) = reps(i).copy(fp = reps(i).fp.map(f => f.copy(hash = f.hash ^ 1L)))
    }

    // ---- checks, outside the window
    val failures = mutable.ArrayBuffer[String]()
    val failedReps = mutable.HashSet[Int]()
    reps.indices.foreach(i => reps(i).error.foreach { e => failedReps += i; failures += s"${reps(i).q.name}: $e" })
    val relRows = mutable.LinkedHashMap[String, (Array[String], Array[Row])]()
    for (q <- qs.filterNot(_.traceOnly)) {
      val mine = reps.indices.filter(i => reps(i).q.name == q.name)
      reps.find(r => r.pass == 0 && r.q.name == q.name).flatMap(_.fp) match {
        case None =>
          mine.foreach(failedReps += _); failures += s"${q.name}: no first execution to check against"
        case Some(fp) =>
          refFp(q.name) = fp
          mine.filter(i => reps(i).fp.exists(_ != fp)).foreach { i =>
            failedReps += i; failures += s"${q.name}: pass ${reps(i).pass} result differs from the first execution"
          }
          val rows = firstRows.getOrElse(q.name, Array.empty[Row])
          try q.check(rows).foreach { why => mine.foreach(failedReps += _); failures += s"${q.name}: $why" }
          catch { case e: Throwable =>
            mine.foreach(failedReps += _); failures += s"${q.name}: check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          }
          if (q.module == "queries") relRows(q.name) = (firstCols(q.name), rows)
      }
    }
    // one-off queries last: the dedup check reuses the verified pairs
    for ((q, rows) <- qs.flatMap(q => oneOffRows.get(q.name).map(q -> _))) {
      val mine = reps.indices.filter(i => reps(i).q.name == q.name)
      q.check(rows).foreach { why => mine.foreach(failedReps += _); failures += s"${q.name}: $why" }
      if (q.module == "queries") relRows(q.name) = (firstCols(q.name), rows)
    }
    w match {
      case g: GeoJoinW =>
        val fps = g.sameResult.flatMap(refFp.get).distinct
        if (fps.size > 1) {
          reps.indices.filter(i => g.sameResult.contains(reps(i).q.name)).foreach(failedReps += _)
          failures += s"intersects paths disagree: ${g.sameResult.zip(g.sameResult.map(refFp.get)).mkString(", ")}"
        }
      case _ =>
    }

    val checksS = (System.nanoTime() - tChecks) / 1e9
    val tExtra = System.nanoTime()

    // ---- metrics
    val byQ = qs.map(q => q -> reps.filter(_.q.name == q.name)).toMap
    val ok = (r: Rep) => r.fp.isDefined
    def warm(traced: Boolean) = reps.filter(r => r.pass >= firstWarm && r.traced == traced && ok(r))
    val untracedWarm = warm(false)
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (median(setups.toSeq), "s")
    e2e("query_cold_s") = (geomean(qs.flatMap(q => byQ(q).find(_.pass == 0).filter(ok).map(_.secs))), "s")
    // per timed query: (input rows, median measured warm rep)
    val warmMed = qs.map(q => q.rows -> median(untracedWarm.filter(_.q.name == q.name).map(_.secs).toSeq)).filter(_._2 > 0)
    e2e("query_p50_s") = (geomean(warmMed.map(_._2)), "s")
    // rows of one pass over the wall of a median pass: medians, not the
    // summed reps, so one slow rep does not move it
    e2e("rows_per_s") = (warmMed.map(_._1.toDouble).sum / math.max(1e-9, warmMed.map(_._2).sum), "1/s")
    e2e("peak_rss_mb") = (rssMb, "MB")
    e2e("failed_frac") = (failedReps.size.toDouble / reps.size, "fraction")

    val layer = mutable.LinkedHashMap[String, Double]()
    var gates: Seq[Map[String, Any]] = Nil
    var spansJson = "[]"
    if (o.trace) {
      val tracedWarm = warm(true)
      val nT = math.max(1, tracedWarm.map(_.pass).distinct.size)
      val acc = listener.get.drained()
      def sumA(f: StageListener#Acc => Double) = tracedWarm.flatMap(r => acc.get(r.group)).map(f).sum / nT
      for (m <- Seq("join", "queries", "llm")) {
        val rs = tracedWarm.filter(_.q.module == m)
        layer(s"$m.plan_s") = rs.map(_.planS).sum / nT
        layer(s"$m.exec_s") = rs.map(_.execS).sum / nT
      }
      val lastPlans = reps.filter(_.traced).flatMap(r => r.executed.map(r.q.name -> _)).toMap
      layer("join.refine_yield") = w.refineYield(spark, lastPlans, refFp.toMap)
      gates = w.gates(spark, lastPlans)
      def gateCount(g: String, c: String) = gates.count(m => m("gate") == g && m("choice") == c).toDouble
      layer("join.knn_brute") = gateCount("knn_brute_vs_rounds", "brute")
      val cand = refFp.get("clean_minhash").map(_.rows).sum.toDouble +
        oneOffRows.get("hot_minhash").map(_.map(_.getLong(1)).sum).sum
      val ver = refFp.get("clean_verified").map(_.rows).sum.toDouble + oneOffRows.get("hot_verified").map(_.length).sum
      for (q <- Seq("hot_minhash", "hot_verified"))
        layer(s"llm.${q}_s") = reps.find(r => r.q.name == q && r.pass < 0).map(_.secs).getOrElse(0.0)
      layer("llm.candidate_pairs") = cand
      layer("llm.verified_pairs") = ver
      layer("llm.verify_yield") = if (cand > 0) ver / cand else 0.0
      layer("llm.max_band_bucket") = w match {
        case d: DedupW => math.max(d.maxBucket(spark, "clean"), d.maxBucket(spark, "hot")).toDouble
        case _ => 0.0
      }
      layer("stage.jobs") = sumA(_.jobs)
      layer("stage.stages") = sumA(_.stages)
      layer("stage.tasks") = sumA(_.tasks)
      layer("stage.task_busy_s") = sumA(_.busyMs / 1e3)
      layer("stage.task_cpu_s") = sumA(_.cpuNs / 1e9)
      layer("stage.sched_wait_s") = sumA(_.schedWaitMs / 1e3)
      layer("stage.fetch_wait_s") = sumA(_.fetchWaitMs / 1e3)
      layer("stage.shuffle_write_mb") = sumA(_.shuffleWrite / 1048576.0)
      layer("stage.shuffle_read_mb") = sumA(_.shuffleRead / 1048576.0)
      layer("stage.spill_mb") = sumA(_.spill / 1048576.0)
      layer("stage.peak_exec_mem_mb") = (tracedWarm.flatMap(r => acc.get(r.group)).map(_.peakMem) :+ 0L).max / 1048576.0
      layer("stage.task_skew") = (qs.map(q => median(tracedWarm.filter(_.q.name == q.name)
        .flatMap(r => acc.get(r.group)).map(_.skew).toSeq)) :+ 0.0).max
      layer("stage.failed_tasks") = sumA(_.failedTasks)
      layer("stage.core_util") = tracedWarm.flatMap(r => acc.get(r.group)).map(_.busyMs / 1e3).sum /
        math.max(1e-9, tracedWarm.map(_.secs).sum * o.threads)
      val ops = tracedWarm.flatMap(_.executed).map(PlanStats.of)
      layer("stage.exchanges") = ops.map(_.exchanges).sum.toDouble / nT
      layer("stage.sorts") = ops.map(_.sorts).sum.toDouble / nT
      layer("stage.broadcast_joins") = ops.map(_.broadcastJoins).sum.toDouble / nT
      layer("stage.sort_merge_joins") = ops.map(_.sortMergeJoins).sum.toDouble / nT
      val tracedMed = qs.map(q => median(tracedWarm.filter(_.q.name == q.name).map(_.secs).toSeq))
      val untracedMed = qs.map(q => median(untracedWarm.filter(_.q.name == q.name).map(_.secs).toSeq))
      layer("trace.overhead_frac") = geomean(tracedMed.zip(untracedMed).filter(_._2 > 0).map { case (a, b) => a / b }) - 1
      for ((name, g, c) <- Seq(("knn_rounds", "knn_brute_vs_rounds", "rounds"),
        ("dedup_salted", "dedup_salted_vs_symmetric", "salted"),
        ("dedup_symmetric", "dedup_salted_vs_symmetric", "symmetric"),
        ("bloom_single_pass", "bloom_build_path", "single_pass"),
        ("bloom_distributed", "bloom_build_path", "distributed"),
        ("shape_cache_fits", "shape_cache_fit", "fits"), ("shape_cache_overflows", "shape_cache_fit", "overflows")))
        layer(s"gate.$name") = gateCount(g, c)
      layer ++= w.extraLayer(spark)
      layer ++= Micro.core(w.sample)
      layer ++= Micro.expr(spark, w.sample)
      // span tree: workload -> query -> rep -> plan/execute
      val spans = mutable.ArrayBuffer[SpanTree.Span]()
      val wEnd = tracedWarm.map(_.tEnd).maxOption.getOrElse(w0)
      spans += SpanTree.Span(0, -1, o.workload, "workload", w0, wEnd, Map("seed" -> o.seed))
      for (q <- qs; rs = tracedWarm.filter(_.q.name == q.name) if rs.nonEmpty) {
        val qid = spans.size
        spans += SpanTree.Span(qid, 0, q.name, "query", rs.map(_.t0).min, rs.map(_.tEnd).max, Map("module" -> q.module))
        for (r <- rs) {
          val rid = spans.size
          val a = acc.get(r.group)
          spans += SpanTree.Span(rid, qid, s"pass ${r.pass}", "rep", r.t0, r.tEnd, Map("job_group" -> r.group) ++
            a.map(x => Map("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
              "task_busy_ms" -> x.busyMs, "shuffle_write_b" -> x.shuffleWrite, "shuffle_read_b" -> x.shuffleRead,
              "spill_b" -> x.spill, "task_skew" -> x.skew)).getOrElse(Map.empty))
          spans += SpanTree.Span(rid + 1, rid, "plan", "plan", r.t0, r.tPlan)
          spans += SpanTree.Span(rid + 2, rid, "execute", "execute", r.tPlan, r.tEnd)
        }
      }
      spansJson = SpanTree.toJson(spans.toSeq)
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    if (o.trace) {
      layer("jvm.gc_s") = gc / 1e3
      layer("jvm.jit_ms") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
      layer("jvm.heap_peak_mb") = heapPeak / 1048576.0
    }

    // ---- result file (the launcher prints the final line)
    def qJson(q: Q) = {
      val rs = byQ(q)
      val warmS = rs.filter(r => r.pass >= firstWarm && !r.traced && ok(r)).map(_.secs)
      Map("module" -> q.module, "rows" -> q.rows, "reps" -> rs.size,
        "failed" -> rs.indices.count(i => failedReps.contains(reps.indexOf(rs(i)))),
        "cold_s" -> rs.find(_.pass <= 0).map(_.secs).getOrElse(0.0), "p50_s" -> median(warmS.toSeq),
        "warm_s" -> warmS.toSeq)
    }
    val relFile = new File(o.work, "relational_results.json")
    if (relRows.nonEmpty) {
      val body = relRows.map { case (n, (cols, rows)) =>
        s"${Json.str(n)}:{\"columns\":${Json.any(cols.toSeq)},\"rows\":" +
          rows.map(r => r.toSeq.map(cell).mkString("[", ",", "]")).mkString("[", ",", "]") + "}"
      }.mkString("{", ",\n", "}")
      Files.write(relFile.toPath, body.getBytes(UTF_8))
    }
    val oracle = w match { case r: RelationalW => r.oracleSql case _ => Map.empty[String, String] }
    val spansFile = new File(o.work, "spans.json")
    if (o.trace) Files.write(spansFile.toPath, spansJson.getBytes(UTF_8))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "threads" -> o.threads,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576, "window_s" -> windowS, "passes" -> pass,
      "generation_s" -> genS, "setup_runs_s" -> setups.toSeq, "checks_s" -> checksS,
      "traced_extras_s" -> (System.nanoTime() - tExtra) / 1e9, "describe" -> desc,
      "attempted" -> reps.size, "failed" -> failedReps.size, "failures" -> failures.toSeq,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layer, "gates" -> gates, "queries" -> qs.map(q => q.name -> qJson(q)).toMap,
      "oracle_sql" -> oracle, "relational_results" -> (if (relRows.nonEmpty) relFile.getPath else ""),
      "spans" -> (if (o.trace) spansFile.getPath else ""))
    Files.write(new File(o.out).toPath, Json.any(out).getBytes(UTF_8))
    stop(spark)
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString
    case f: Float => f.toDouble.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case o => Json.str(o.toString)
  }
}
