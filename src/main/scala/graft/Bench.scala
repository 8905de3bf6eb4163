package graft

import org.apache.spark.sql.SparkSession

import graft.spark.Queries

/** Per-rep telemetry: wall seconds, 1-min loadavg at start, external busy
  * cores from the idle-window /proc/stat sample, seconds the load gate
  * held the rep, the rep's own JVM GC seconds, post-rep used heap.
  * Top-level (not nested in [[Bench]]) so the heavy-pass child JVM can
  * java-serialize sections back to the parent. */
private[graft] final case class Rep(sec: Double, load: Double, busy: Double,
    gateWait: Double, gcSec: Double, heapMb: Double)

private[graft] final case class QRecord(name: String, reps: Seq[Rep], err: Option[String]) {
  def best: Double = if (reps.isEmpty) 0.0 else reps.map(_.sec).min
}

private[graft] final case class SectionOut(records: Seq[QRecord],
    oracleTimes: Seq[(String, Double)], oracleBusy: Seq[(String, Double)],
    oracleTimeouts: Seq[(String, String)] = Nil) {
  /** Rows with at least one completed rep COUNT as measured even when a
    * later rep threw (ADVICE r19: a watchdog cancellation on rep 2 or 3
    * used to erase the valid earlier measurement); the error still shows
    * in errsJson. Rows with zero reps are error-only. */
  def ok: Seq[QRecord] = records.filter(_.reps.nonEmpty)
  def queriesJson: String =
    ok.map(r => "\"" + Bench.esc(r.name) + "\":" + r.best).mkString("{", ",", "}")
  def errsJson: String = records
    .collect { case QRecord(n, _, Some(e)) => "\"" + Bench.esc(n) + "\":\"" + Bench.esc(e) + "\"" }
    .mkString("{", ",", "}")
  def total: Double = ok.map(_.best).sum
  /** ,"<prefix>oracle_queries":… — empty when the oracle never ran.
    * `<prefix>oracle_timeouts` names every row whose oracle gave up
    * (VERDICT r17 item 5: a missing key used to be indistinguishable
    * from a row that was never attempted). */
  def oracleJson(prefix: String): String =
    if (oracleTimes.isEmpty && oracleTimeouts.isEmpty) ""
    else {
      val toJson =
        if (oracleTimeouts.isEmpty) ""
        else s""","${prefix}oracle_timeouts":""" + oracleTimeouts
          .map { case (n, e) => "\"" + Bench.esc(n) + "\":\"" + Bench.esc(e) + "\"" }
          .mkString("{", ",", "}")
      s""","${prefix}oracle_queries":${Bench.jsonNum(oracleTimes)}""" +
        s""","${prefix}oracle_busy_cores":${Bench.jsonNum(oracleBusy)}""" + toJson
    }
}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Failures are reported per query (never silently
  * timed as if they ran — VERDICT r1 item 2).
  *
  * LOAD-AWARE RECORD (VERDICT r7 item 4): this box suffers external
  * CPU-steal storms that have inflated single reps by >10x (the official
  * r7 big pass read 282 s for work a calm window does in ~23 s). Every
  * rep therefore records /proc/loadavg at its start, the reported number
  * is the MIN of the reps (the closest observable to the machine's true
  * capability; medians still smear a storm across the record), and the
  * JSON carries per-rep times + loads so a future reader can tell "slow
  * code" from "stormy box" without archaeology.
  *
  * CRASH-PROOF ARTIFACTS (r20, VERDICT r19 item 1): the r19 driver window
  * died with Spark's ExecutorExitCode.HEARTBEAT_FAILURE (exit 56) inside
  * the sf10 minhash sort and left NOTHING — Bench wrote its record only at
  * end-of-main. Three defenses now stack:
  *   (a) bench_slim.json + bench_full.json are REWRITTEN after every
  *       completed row (marked "partial":true until the final write), and
  *       a partial stdout record prints per section — any death leaves a
  *       parseable partial window;
  *   (b) the session gets heartbeat headroom (60 s interval, 10000
  *       maxFailures): in local[32] the executor is in-process and its
  *       heartbeat is vestigial — its self-exit must never outrank the
  *       per-rep watchdog, which cancels the job group and records the
  *       row's error while the JVM lives on;
  *   (c) the sf3/sf10 HEAVY passes run in a CHILD JVM that serializes its
  *       section to disk after every row — a hard child death (OOM, the
  *       next exit-56 equivalent) costs at most the remainder of one heavy
  *       pass, and the parent still writes the final record with the
  *       child's completed rows and a visible nonzero child_rc.
  * Fault-injection proof hooks: SPARK_GRAFT_FAULT_ROW=<name> gives that
  * row a 0.5 s watchdog cap (forces a real job-group cancellation);
  * SPARK_GRAFT_FAULT_CHILD_KILL=1 makes the heavy child halt(56) after
  * its first row — both must leave a parseable artifact.
  */
object Bench {

  /** 1-minute load average — 0.0 if /proc/loadavg is unreadable. */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Defensive env parse (ADVICE r19): a malformed value logs and falls
    * back instead of throwing mid-bench and aborting the whole run. */
  private def envDouble(name: String, default: Double): Double =
    sys.env.get(name) match {
      case None => default
      case Some(v) =>
        try v.toDouble
        catch { case _: NumberFormatException =>
          System.err.println(s"[bench] ignoring malformed $name='$v'; using $default")
          default }
    }

  /** Cores busy right now (incl. hypervisor steal), from a ~250 ms
    * /proc/stat delta. Unlike the 1-minute loadavg — which our own
    * just-finished 32-thread rep inflates for a minute — this is sampled
    * while the bench is idle between reps, so any busy core is EXTERNAL
    * contention (the storms that wrote 3-8x phantom regressions into the
    * r13 record). */
  private def busyCores(): Double =
    try {
      def read(): Array[Long] = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      }
      val a = read(); Thread.sleep(250); val b = read()
      val d = a.indices.map(i => b.lift(i).getOrElse(0L) - a(i))
      val total = math.max(d.sum.toDouble, 1.0)
      val idle = (d.lift(3).getOrElse(0L) + d.lift(4).getOrElse(0L)).toDouble
      (total - idle) / total * Runtime.getRuntime.availableProcessors()
    } catch { case _: Throwable => 0.0 }

  /** LOAD GATE (VERDICT r13 item 1): the driver's r13 post-close window
    * recorded 3-8x phantom regressions on diff-clean code because reps ran
    * during external CPU storms (recorded loadavg 4.5-12). Before each
    * timed rep, wait — bounded — until external busy cores drop under the
    * gate, so the authoritative artifact cannot be written mid-storm. Waits
    * are recorded per rep; a global budget bounds the whole bench run so a
    * permanent storm degrades to the old behavior (run anyway, record the
    * contention) instead of hanging the driver. */
  private val gateCores: Double = envDouble("SPARK_GRAFT_GATE_CORES", 6.0)
  private var gateBudget: Double = envDouble("SPARK_GRAFT_GATE_BUDGET", 420.0)
  private var gateWaitedTotal: Double = 0.0

  /** Returns (secondsWaited, busyCoresAtGo). */
  private def gateLoad(maxWait: Double = 60.0): (Double, Double) = {
    var waited = 0.0
    var busy = busyCores()
    while (busy > gateCores && waited < maxWait && gateBudget > 0) {
      Thread.sleep(4000)
      waited += 4.0; gateBudget -= 4.0; gateWaitedTotal += 4.0
      busy = busyCores()
    }
    (waited, busy)
  }

  /** Sequentially read a dataset's parquet bytes into the page cache and
    * return the seconds spent. The DuckDB oracle for each scale section
    * runs AFTER the Spark reps and therefore reads page-cache-warm files
    * that Spark's own first reps faulted in cold — an asymmetry baked
    * into the ordering, worth 2-4 s/rep on the sf10 section. Touching the
    * files ONCE before timing puts both engines on warm I/O, so the reps
    * measure compute; the spent time is recorded in the artifact, never
    * hidden. */
  private def warmPageCache(dir: String): Double = {
    val t0 = System.nanoTime()
    val buf = new Array[Byte](1 << 20)
    def touch(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val kids = f.listFiles(); if (kids != null) kids.foreach(touch)
      } else if (f.getName.endsWith(".parquet")) {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) {} } finally in.close()
      }
    }
    try touch(new java.io.File(dir)) catch { case _: Throwable => () }
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** Cumulative JVM GC milliseconds across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** One timed rep, behind the load gate. Records the rep's own JVM GC
    * time and post-rep used heap (VERDICT r15 item 2: the r15 sf3 record
    * carried monotonically-worsening reps at zero external load — GC/heap
    * pressure from the bench's OWN JVM was invisible to the external-load
    * gate; with gc_sec per rep in the artifact, a blowout is attributable
    * on sight). */
  private def timeOnce(body: => Unit): Rep = {
    val (waited, busy) = gateLoad()
    val load = loadavg()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis() - gc0) / 1e3
    val rt = Runtime.getRuntime
    Rep(sec, load, busy, waited, gcSec, (rt.totalMemory - rt.freeMemory) / 1e6)
  }

  /** One shared daemon Timer for every rep watchdog — per-rep TimerTasks
    * are cancelled on completion; the thread is created ONCE (a Timer per
    * rep would spawn and join a thread per rep for nothing). */
  private val watchdog = new java.util.Timer("bench-rep-watchdog", true)

  /** Monotone rep counter: the watchdog job group is unique PER REP
    * (ADVICE r19 — a stale TimerTask already executing when task.cancel()
    * ran could fire during the next rep of the same query and spuriously
    * cancel its jobs; with unique groups it can only hit an empty one). */
  private val repSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The cross-engine comparison set recorded in SCALEUP.md. */
  private val oracleNames = Seq("b_tpch_q1", "b_tpch_q3", "b_tpch_q5",
    "b_events_sessions", "l_text_tokens", "l_ann_top1", "l_dedup_minhash",
    "l_dup_spans", "l_dup_span_removal", "l_decontam_fuzzy",
    "l_decontam_bloom", "l_bpe_train", "l_text_normalize",
    "l_dedup_incremental", "b_events_hourly", "b_events_json",
    "b_events_funnel", "b_top_order", "b_tpch_q4", "b_tpch_q12",
    "b_events_asof", "b_interval_join",
    // last on purpose: the all-pairs kNN oracle is the one quadratic row
    // (~0.5 s at sf0.1, ~30-110 s at sf1) — the per-query 60 s early-stop
    // and the 600 s budget bound it, and a budget overrun drops only it
    "b_knn")

  /** The HEAVY LLM flagships: on the replica corpora their dup cliques
    * grow with copies, so both engines run minutes at sf3/sf10 (the sf3
    * minhash oracle alone is ~115 s). They run LAST GLOBALLY — after
    * every scale section's floor rows — in a CHILD JVM (r20), so a
    * blowout or a hard JVM death can cost only themselves, never a
    * section (VERDICT r15 item 1 / r19 item 1c). */
  private[graft] val heavyNames = Seq("l_decontam_bloom", "l_dup_spans", "l_dedup_minhash")

  /** DuckDB oracle timings, INTERLEAVED with the Spark reps (VERDICT r14
    * item 3: the oracle used to run as one batch AFTER a whole section's
    * Spark reps, so a storm arriving mid-section hit only one engine and
    * wrote asymmetric phantom ratios into the record — the r14 sf3 geomean
    * read 1.98x and 2.89x for identical code two hours apart). One
    * persistent python/duckdb subprocess per section keeps the views and
    * the import warm; the Scala side sends one query name at a time RIGHT
    * AFTER that query's Spark reps, behind the same load gate, so both
    * engines measure in the same window. Min-of-3 reps with a 60 s
    * early-stop per query, a 600 s per-section budget, and a hard
    * per-query wall deadline (a hung oracle kills the subprocess, never
    * the bench). Heavy rows (the quadratic-dup-clique LLM flagships) get
    * ONE oracle rep instead of three — the sf3 minhash oracle alone is
    * ~115 s, and re-confirming it twice was what pushed the r15 run past
    * the point where the sf10 section got skipped (VERDICT r15 item 1).
    * The library itself never depends on this; it is bench
    * instrumentation. */
  private class OracleRunner private (proc: Process,
      lines: java.util.concurrent.BlockingQueue[String],
      errFile: java.io.File) {
    var spent: Double = 0.0
    /** Rows whose oracle could not produce a time, with the reason —
      * "timeout:180" (python-side interrupt), "timeout:240" (runner poll
      * gave up), or the oracle's own error string. VERDICT r16/r17: the
      * sf10 minhash oracle interrupt used to be recorded as a silently
      * MISSING key, so a 279 s Spark win over an oracle that cannot finish
      * read as a hole in the artifact. */
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    private var dead = false
    def alive: Boolean = !dead
    /** Last ~1 KB of the subprocess's stderr — surfaced when the runner
      * dies (ADVICE r16: a /dev/null stderr left a failed python3/duckdb
      * startup with zero diagnostics and every oracle row silently lost). */
    private def errTail(): String = try {
      val bytes = java.nio.file.Files.readAllBytes(errFile.toPath)
      new String(bytes.drop(math.max(0, bytes.length - 1024))).trim
    } catch { case _: Throwable => "<stderr unreadable>" }
    /** Min-of-N seconds for `name`, or None on error/timeout/budget.
      * r21: the dead/budget early-outs RECORD themselves — the r21 window
      * lost the mega dup_spans oracle silently after the bloom row's
      * "runner io error" killed the runner (the same class of hole
      * VERDICT r16/r17 closed for interrupts). */
    def time(name: String): Option[Double] = {
      if (dead) { failures.getOrElseUpdate(name, "runner dead"); return None }
      if (spent > 600.0) {
        failures.getOrElseUpdate(name, "oracle budget exhausted"); return None
      }
      try {
        proc.getOutputStream.write((name + "\n").getBytes)
        proc.getOutputStream.flush()
        // worst legitimate case: 3 reps x 60 s early-stop + slack
        val line = lines.poll(240, java.util.concurrent.TimeUnit.SECONDS)
        if (line == null) {
          System.err.println(s"[bench] oracle row '$name' timed out; stderr tail: ${errTail()}")
          failures(name) = "timeout:240"
          close(); return None
        }
        val sec = "\"sec\":\\s*([0-9.]+)".r.findFirstMatchIn(line).map(_.group(1).toDouble)
        val sp = "\"spent\":\\s*([0-9.]+)".r.findFirstMatchIn(line).map(_.group(1).toDouble)
        sp.foreach(s => spent += s)
        if (sec.isEmpty) {
          val err = "\"err\":\\s*\"([^\"]*)\"".r.findFirstMatchIn(line).map(_.group(1))
          failures(name) = err match {
            case Some(e) if e.startsWith("timeout") => "timeout:180"
            case Some(e) => e.take(120)
            case None => "no time reported"
          }
        }
        sec
      } catch { case _: Throwable => failures(name) = "runner io error"; close(); None }
    }
    def close(): Unit = {
      dead = true
      try { proc.getOutputStream.close() } catch { case _: Throwable => () }
      try {
        if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
          proc.destroyForcibly()
      } catch { case _: Throwable => proc.destroyForcibly() }
    }
  }

  private object OracleRunner {
    def start(sfDir: String, cpus: String, names: Seq[String],
              small: Boolean): Option[OracleRunner] = try {
      val picked = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      if (picked.isEmpty) return None
      val dir = java.nio.file.Files.createTempDirectory("graft_oracle")
      val specFile = dir.resolve("spec.json").toFile
      val pw = new java.io.PrintWriter(specFile)
      // the 1-rep heavy override exists because the SCALE-section heavy
      // oracles run minutes (sf3 minhash ~115 s); at the small SF those
      // same rows are sub-second and get the SAME five draws as the Spark
      // side (min-of-5 small-section policy, r19) — scale sections keep
      // min-of-3 (ADVICE r16: a name-only key stripped the override
      // everywhere)
      val repsJson = picked.map { case (n, _) =>
        "\"" + esc(n) + "\":" + (if (small) 5
                                 else if (heavyNames.contains(n)) 1 else 3) }.mkString(",")
      pw.print("{\"dir\":\"" + esc(sfDir) + "\",\"threads\":" + cpus.toInt +
        ",\"reps\":{" + repsJson + "},\"queries\":{" +
        picked.map { case (n, s) => "\"" + esc(n) + "\":\"" + esc(s) + "\"" }.mkString(",") + "}}")
      pw.close()
      val pyFile = dir.resolve("bench_oracle.py").toFile
      val py = new java.io.PrintWriter(pyFile)
      py.print(
        """import json, os, sys, time
          |import duckdb
          |spec = json.load(open(sys.argv[1]))
          |con = duckdb.connect()
          |con.execute("SET threads=%d" % spec["threads"])
          |for t in ["region", "nation", "customer", "supplier", "part", "orders",
          |          "lineitem", "events", "documents", "embeddings"]:
          |    p = "%s/%s.parquet" % (spec["dir"], t)
          |    if os.path.isdir(p):  # Spark-written multi-part dataset
          |        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/*.parquet'" % (t, p))
          |    elif os.path.exists(p):
          |        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
          |    else:
          |        continue
          |    if t == "events":
          |        # a ScaleUp-written events table stores ts as raw nanosecond
          |        # BIGINT (Spark's nanosAsLong); rebuild the timestamp so the
          |        # oracle SQL's epoch()/date_trunc() bind at every scale
          |        ty = con.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone()
          |        if ty and ty[0] == "BIGINT":
          |            con.execute("CREATE OR REPLACE VIEW events AS "
          |                        "SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
          |                        "FROM read_parquet('%s/*.parquet')" % p)
          |print(json.dumps({"ready": True}))
          |sys.stdout.flush()
          |import threading
          |def run_reps(sql, out, nreps):
          |    best, used = None, 0.0
          |    try:
          |        for _ in range(nreps):
          |            t0 = time.time()
          |            con.execute(sql).fetchall()
          |            dt = time.time() - t0
          |            used += dt
          |            best = dt if best is None or dt < best else best
          |            if best > 60.0:
          |                break
          |        out["sec"], out["spent"] = round(best, 3), round(used, 3)
          |    except Exception as e:
          |        out["err"], out["spent"] = str(e)[:200], round(used, 3)
          |for line in sys.stdin:
          |    name = line.strip()
          |    if not name:
          |        break
          |    sql = spec["queries"].get(name)
          |    if sql is None:
          |        print(json.dumps({"name": name, "err": "no oracle"}))
          |        sys.stdout.flush()
          |        continue
          |    # per-query wall guard: run the reps in a worker and interrupt
          |    # a blowout (the sf10 minhash oracle runs 10+ min) so the
          |    # RUNNER SURVIVES and later queries still get timed — a killed
          |    # subprocess used to lose every remaining row of the section
          |    out = {}
          |    nreps = spec.get("reps", {}).get(name, 3)
          |    w = threading.Thread(target=run_reps, args=(sql, out, nreps), daemon=True)
          |    w.start()
          |    w.join(180.0)
          |    if w.is_alive():
          |        try:
          |            con.interrupt()
          |        except Exception:
          |            pass
          |        w.join(30.0)
          |        out.setdefault("err", "timeout: interrupted after 180s")
          |        out.pop("sec", None)
          |        if w.is_alive():
          |            # the interrupt failed: the worker still owns the
          |            # connection, and DuckDB connections are not safe for
          |            # concurrent queries — running the NEXT query on it
          |            # could crash the whole runner (ADVICE r15). Report
          |            # and exit; the Scala side records the runner dead
          |            # and later rows are skipped, not corrupted.
          |            out["err"] = "timeout: interrupt failed, runner retired"
          |            print(json.dumps({"name": name, **out}))
          |            sys.stdout.flush()
          |            break
          |    print(json.dumps({"name": name, **out}))
          |    sys.stdout.flush()
          |""".stripMargin)
      py.close()
      val pb = new ProcessBuilder("python3", pyFile.getAbsolutePath, specFile.getAbsolutePath)
      pb.redirectErrorStream(false)
      // stderr must be actively drained (ADVICE r15): left unread, enough
      // python/duckdb warnings fill the 64 KB pipe and BLOCK the runner
      // mid-query — the 240 s poll then retires it and every remaining
      // oracle row of the section is silently dropped. Redirecting to a
      // TEMP FILE (not /dev/null — ADVICE r16) keeps the pipe drained AND
      // preserves diagnostics: its tail is surfaced whenever the ready
      // line or a query row times out.
      val errFile = dir.resolve("oracle_stderr.log").toFile
      pb.redirectError(ProcessBuilder.Redirect.to(errFile))
      val proc = pb.start()
      val lines = new java.util.concurrent.LinkedBlockingQueue[String]()
      val reader = new Thread(() => {
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
        try {
          var l = r.readLine()
          while (l != null) { lines.put(l); l = r.readLine() }
        } catch { case _: Throwable => () }
      })
      reader.setDaemon(true)
      reader.start()
      // view setup (incl. the events typeof probe) is bounded; 120 s covers
      // a cold page-cache listing of the mega dir
      val ready = lines.poll(120, java.util.concurrent.TimeUnit.SECONDS)
      if (ready == null || !ready.contains("ready")) {
        val tail = try {
          val bytes = java.nio.file.Files.readAllBytes(errFile.toPath)
          new String(bytes.drop(math.max(0, bytes.length - 1024))).trim
        } catch { case _: Throwable => "<stderr unreadable>" }
        System.err.println(s"[bench] oracle runner never reported ready; stderr tail: $tail")
        proc.destroyForcibly(); None
      }
      else Some(new OracleRunner(proc, lines, errFile))
    } catch { case _: Throwable => None }
  }

  private[graft] def jsonNum(pairs: Seq[(String, Double)]): String =
    pairs.map { case (n, v) => "\"" + esc(n) + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

  /** BOX-SPEED CANARY (r16): a fixed, data-free, pure-codegen Spark job
    * (sum over a 200M range) timed at each section's start. The r16
    * investigation found the dominant cross-window variable is the BOX
    * itself — r14's exact tree re-probed in an r16 window reads q3 at
    * sf0.1 ~1.0 s where r14's committed window recorded 0.664 s, same
    * code, zero external busy cores — so every section now carries a
    * constant-work reference number that makes window drift legible in
    * the artifact instead of masquerading as code regressions. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // modulo keeps the running sum ~1e14 — far inside BIGINT under ANSI
      // (a multiplicative mix overflowed and aborted the whole bench run)
      spark.range(200000000L).selectExpr("sum(id % 1048576)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** The shared SparkSession recipe — parent bench AND heavy child build
    * the identical session (the scan/codegen knobs are part of the
    * measured configuration, not incidental setup).
    *
    * HEARTBEAT HEADROOM (r20, VERDICT r19 items 1b/2): in local[32] the
    * executor lives in this JVM and its heartbeat loop is vestigial — yet
    * a storved heartbeat thread (the r19 sf10 minhash allocatePage
    * livelock starved it past spark.executor.heartbeat.maxFailures) makes
    * the executor System.exit(56) and takes the whole bench with it,
    * outranking the per-rep watchdog whose job-group cancel was already in
    * flight. 60 s intervals x 10000 allowed failures means the self-kill
    * can never fire inside any bounded rep; the watchdog remains the only
    * authority that ends a hung row, and it does so by cancelling the job
    * group, which records a visible per-row error and lets the run
    * continue. network.timeout stays comfortably above the interval. */
  private[graft] def buildSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.executor.heartbeat.maxFailures", "10000")
      .config("spark.network.timeout", "3600s")
      // Scan parallelism: the big-SF replica tables are ~11 MB part files,
      // so the 128 MB default bins ~10 files per task — 1.1 GB lineitem
      // scans on 10 of 32 cores. 32 MB bins (+1 MB open cost — local files
      // open cheap) put ~50 tasks on the sf10 scan: q1 0.87 -> 0.73 s,
      // q3 4.2 -> 3.2 s in the r13 A/B. Small SFs are unaffected (single
      // sub-32 MB files either way).
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1L * 1024 * 1024).toString)
      // static conf: the default 100-entry whole-stage-codegen class cache
      // thrashes across this suite's ~37 queries x several stages each,
      // so "warm" reps kept paying janino recompiles (r17)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // reader profile (r18 ScanBench sweep at sf10): 16K columnar batches
      // + off-heap column vectors read q1's five lineitem columns in
      // 1.20 s vs 1.38-1.45 s for every other knob combination tried
      // (default, either knob alone, 16 MB bins); never slower at small
      // SFs. The residual ~7.7x scan gap vs DuckDB is engine-level
      // (row-at-a-time codegen consumption of columnar batches) — see
      // SCALEUP.md r18 reader-floor note.
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .getOrCreate()

  /** Runs one section: per query, the gated Spark reps IMMEDIATELY followed
    * by that query's gated DuckDB oracle reps (same window, same gate — the
    * r14 record's section-level oracle batches let storms hit one engine
    * only). `small` = min-of-5 rep policy; otherwise 2-3 reps (see below).
    * b_knn's oracle (the one quadratic row) is deferred to the section's
    * end so a blowout consumes only the residual budget. `onRow` fires
    * after EVERY completed row with the section-so-far — the incremental
    * artifact hook (VERDICT r19 item 1a). */
  private[graft] def runSection(spark: SparkSession,
      qmap: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      dir: String, names: Seq[String], oracleSet: Seq[String], cpus: String,
      small: Boolean, heavySparkReps: Int = 2,
      onRow: SectionOut => Unit = _ => ()): SectionOut = {
    var oracle = OracleRunner.start(dir, cpus, oracleSet, small)
    val oTimes = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val oBusy = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // failures carried over from a dead runner, plus "runner dead" rows
    // when no runner is left — merged with the live runner's own failures
    // so the artifact never loses a row's reason (r21)
    val oFails = scala.collection.mutable.LinkedHashMap[String, String]()
    var oracleRestarted = false
    def oracleFailures: Seq[(String, String)] =
      (oFails ++ oracle.map(_.failures).getOrElse(Nil)).toSeq
    def timeOracle(name: String): Unit =
      if (oracleSet.contains(name)) {
        // ONE restart per section (r21): the r21 window's mega bloom
        // oracle died with "runner io error" and every later row's oracle
        // draw was lost; a single bounded respawn recovers them, and a
        // second death ends the section's oracle honestly.
        if (oracle.exists(o => !o.alive) && !oracleRestarted) {
          oracleRestarted = true
          oracle.foreach(o => oFails ++= o.failures)
          System.err.println("[bench] oracle runner died mid-section; restarting (once)")
          oracle = OracleRunner.start(dir, cpus, oracleSet, small)
        }
        oracle.filter(_.alive) match {
          case Some(o) =>
            val (_, busy) = gateLoad()
            o.time(name).foreach { t => oTimes += name -> t; oBusy += name -> busy }
          case None => oFails.getOrElseUpdate(name, "runner dead")
        }
      }
    // PER-REP WATCHDOG (r19): a mid-storm r19 window HUNG — all 32
    // executor threads livelocked in TaskMemoryManager.allocatePage
    // inside the sf10 minhash sort, the count() never returned, and only
    // an external kill ended the run. A rep that exceeds the cap has its
    // job group cancelled (interrupts the tasks), so the row records a
    // visible error in the artifact and the REST of the bench still runs
    // — a hung row must cost itself, never the record. 600 s covers every
    // legitimate non-heavy rep with 10x margin; HEAVY rows get 900 s —
    // the r19 box runs the sf10 minhash at ~300-450 s warm (it was
    // ~130 s in the r18 windows; the sf3 row shows the same ~2x
    // environmental slowdown), and a storm on top of that must not turn
    // a finishing row into a cancelled one.
    val repCap = envDouble("SPARK_GRAFT_REP_CAP", 600.0)
    val faultRow = sys.env.get("SPARK_GRAFT_FAULT_ROW")
    def cappedRep(name: String): Rep = {
      // fault-injection proof hook (r20): a 0.5 s cap forces a REAL
      // watchdog cancellation through the production path, so the
      // partial-artifact guarantee is demonstrable on demand
      val cap =
        if (faultRow.contains(name)) 0.5
        else if (heavyNames.contains(name)) math.max(repCap, 900.0) else repCap
      val sc = spark.sparkContext
      val group = s"bench-$name-${repSeq.incrementAndGet()}"
      sc.setJobGroup(group, s"bench rep $name", interruptOnCancel = true)
      val task = new java.util.TimerTask {
        override def run(): Unit =
          try sc.cancelJobGroup(group) catch { case _: Throwable => () }
      }
      watchdog.schedule(task, (cap * 1000).toLong)
      try timeOnce(qmap(name)(spark, dir).count())
      finally { task.cancel(); sc.clearJobGroup() }
    }
    val recBuf = scala.collection.mutable.ArrayBuffer[QRecord]()
    for (name <- names) {
      // INTER-ROW HYGIENE (VERDICT r15 item 2): the r15 sf3 reps worsened
      // monotonically at zero external load — heap/GC pressure accumulated
      // across rows (leaked cached blocks from operators whose
      // CacheLifecycle release races the next row, plus plain old-gen
      // growth) and was billed to whichever query ran next. Clear the
      // catalog cache and hint a full GC BETWEEN rows so each query's reps
      // start from a clean heap; the per-rep gc_sec telemetry then shows
      // any remaining in-rep pressure explicitly.
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      val rec =
        if (small) {
          // min-of-5 at the small SF (r19, VERDICT r18 item 1): sub-second
          // floor rows carry the highest relative rep-to-rep variance —
          // in the r18 driver window (calib 0.192, the round's slowest
          // box) b_knn's three draws spanned 1.26-1.61 s where a 12-rep
          // probe in a comparable window reached 0.81 s. Three draws of a
          // contended distribution rarely include a clean one; five
          // usually do. The ORACLE gets the same five draws (OracleRunner
          // reps below) — identical policy both engines, so the ratio
          // stays honest; cost is ~1 min of wall on the whole bench.
          val reps = scala.collection.mutable.ArrayBuffer[Rep]()
          var err: Option[String] = None
          var rep = 0
          while (rep < 5 && err.isEmpty) {
            try reps += cappedRep(name)
            catch { case e: Throwable =>
              err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
            rep += 1
          }
          QRecord(name, reps.toSeq, err)
        } else {
          // reps visible to the catch: a throw on rep 2/3 keeps the valid
          // earlier measurements alongside the error (ADVICE r19)
          val reps = scala.collection.mutable.ArrayBuffer[Rep]()
          try {
            // INTER-REP HYGIENE (r19): the r18 sf3 heavy reps degraded
            // monotonically WITHIN a row (minhash 19.7 -> 230.4 s with 38 s
            // of GC at a 15.6 GB live heap; bloom 6.9 -> 107.8 s) — the
            // first rep's leftover cached blocks + old-gen growth thrash
            // the next rep against the heap ceiling. The between-ROWS
            // clearCache+gc discipline (VERDICT r15 item 2) now also runs
            // between REPS of any row slow enough to matter (> 5 s), so
            // every rep starts from the clean heap rep 1 had. The pause is
            // outside the timed window and costs ~1 s against the 200+ s
            // thrash reps it prevents.
            def hygiene(): Unit = if (reps.last.sec > 5.0) {
              try spark.catalog.clearCache() catch { case _: Throwable => () }
              System.gc()
            }
            // a big query's FIRST run routinely pays 3-7x one-time costs
            // (shuffle spill setup, page-cache faults, codegen) — r12
            // recorded three phantom sf1 "regressions" that isolated warm
            // reruns put right back. ALWAYS take a second rep and report the
            // min; a third only when the box was contended or the row is
            // slow enough for a one-time cost to dominate (bounded at 3 so
            // a storm cannot hang the bench).
            reps += cappedRep(name)
            // the MEGA heavy pass takes ONE Spark rep (heavySparkReps=1,
            // symmetric with its single oracle rep): at ~300-450 s per rep
            // on the r19 box a confirmation rep is what pushed the sf3
            // heavies out of the budget, and the suite warmup + inter-row
            // hygiene make rep 1 the min in most recorded windows anyway
            if (!heavyNames.contains(name) || heavySparkReps >= 2) {
              hygiene()
              reps += cappedRep(name)
            }
            // third rep for every non-heavy row (r19): the scale floor rows
            // are 0.2-3.5 s, so min-of-2 exposes the record to single-draw
            // luck — the r18 driver read q4 sf10 at 2.15x where a same-window
            // 5-rep probe reads 1.6-1.8x. A third sub-4 s draw costs the
            // budget nothing. HEAVY rows stay capped at 2 reps (VERDICT r18
            // item 2): their 10-140 s times are stable under the inter-rep
            // hygiene above, and the third confirmation of a minutes-long
            // row is what squeezed the mega heavies out of the r18 budget.
            if (!heavyNames.contains(name)) {
              hygiene()
              reps += cappedRep(name)
            }
            QRecord(name, reps.toSeq, None)
          } catch { case e: Throwable =>
            QRecord(name, reps.toSeq,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))) }
        }
      recBuf += rec
      if (name != "b_knn") timeOracle(name)
      onRow(SectionOut(recBuf.toSeq, oTimes.toSeq, oBusy.toSeq, oracleFailures))
    }
    timeOracle("b_knn")
    oracle.foreach(_.close())
    SectionOut(recBuf.toSeq, oTimes.toSeq, oBusy.toSeq, oracleFailures)
  }

  private def jsonReps(rs: Seq[QRecord]): String =
    rs.filter(_.reps.nonEmpty).map { r =>
      val times = r.reps.map(x => f"${x.sec}%.3f").mkString("[", ",", "]")
      val loads = r.reps.map(x => f"${x.load}%.2f").mkString("[", ",", "]")
      val busy = r.reps.map(x => f"${x.busy}%.2f").mkString("[", ",", "]")
      val waits = r.reps.map(x => f"${x.gateWait}%.1f").mkString("[", ",", "]")
      val gcs = r.reps.map(x => f"${x.gcSec}%.2f").mkString("[", ",", "]")
      val heaps = r.reps.map(x => f"${x.heapMb}%.0f").mkString("[", ",", "]")
      "\"" + esc(r.name) + "\":{\"times\":" + times + ",\"loads\":" + loads +
        ",\"busy_cores\":" + busy + ",\"gate_waits\":" + waits +
        ",\"gc_sec\":" + gcs + ",\"heap_mb\":" + heaps + "}"
    }.mkString("{", ",", "}")

  /** Deserialize a child-flushed section, or None if absent/torn. */
  private def readSection(p: java.nio.file.Path): Option[SectionOut] =
    if (!java.nio.file.Files.exists(p)) None
    else try {
      val ois = new java.io.ObjectInputStream(java.nio.file.Files.newInputStream(p))
      try Some(ois.readObject().asInstanceOf[SectionOut]) finally ois.close()
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val loadAtStart = loadavg()
    val qmap = Queries.all.map { case (n, q, _) => n -> q }.toMap
    // warmup: run EVERY bench query (plus the heavy spatial pipelines)
    // twice at the smallest SF so JIT and codegen compile before timing.
    // r17 evidence: inside one session, a query re-visited after the rest
    // of the suite ran 2.5x faster than its own third back-to-back rep
    // (b_events_json 0.50 -> 0.21 s) — C2 compilation of shared Spark
    // internals keeps landing across the suite, so a per-query min-of-3
    // alone never reaches the floor the JVM is actually capable of. Two
    // full sf0.001 passes (~15 s) front-load that warmup; a cold first
    // query otherwise measures the JVM, not the plan.
    val warmDir = "/root/testdata/sf0.001"
    for (pass <- 1 to 2;
         n <- (Queries.benchNames ++ Seq("t_dwithin_join", "t_cover_refine_join",
           "g_flagship_join", "g_flagship_broadcast")).distinct)
      try qmap(n)(spark, warmDir).count() catch { case _: Throwable => () }

    // ---------- incremental artifact state (VERDICT r19 item 1a) ----------
    // Every field below is MUTABLE and the whole record is rebuilt + written
    // to bench_full.json/bench_slim.json after every completed row (marked
    // "partial":true until the final write), so ANY death — watchdog-
    // cancelled row, heavy-child crash, even a parent hard-kill — leaves a
    // parseable partial window on disk. A partial stdout record also prints
    // per section.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val slimPath = sys.env.getOrElse("SPARK_GRAFT_SLIM_OUT", "bench_slim.json")
    var smallSec: Option[SectionOut] = None
    var smallCalib = 0.0
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR", "bigdata/sf1")
    val hugeDir = sys.env.getOrElse("SPARK_GRAFT_HUGE_DIR", "bigdata/sf3")
    val megaDir = sys.env.getOrElse("SPARK_GRAFT_MEGA_DIR", "bigdata/sf10")
    var bigSec: Option[SectionOut] = None
    var bigWarmIo = 0.0; var bigCalib = 0.0
    var hugeLightSec: Option[SectionOut] = None; var hugeHeavySec: Option[SectionOut] = None
    var hugeWarmIo = 0.0; var hugeCalib = 0.0
    var hugeDropped: Seq[String] = Nil; var hugeChildRc: Option[Int] = None
    var megaLightSec: Option[SectionOut] = None; var megaHeavySec: Option[SectionOut] = None
    var megaWarmIo = 0.0; var megaCalib = 0.0
    var megaDropped: Seq[String] = Nil; var megaChildRc: Option[Int] = None
    val smallOnly = sys.env.get("SPARK_GRAFT_SMALL_ONLY").contains("1")

    def mergeSection(a: SectionOut, b: Option[SectionOut]): SectionOut = b match {
      case Some(x) => SectionOut(a.records ++ x.records,
        a.oracleTimes ++ x.oracleTimes, a.oracleBusy ++ x.oracleBusy,
        a.oracleTimeouts ++ x.oracleTimeouts)
      case None => a
    }
    def geomeanOf(sec: SectionOut): Option[Double] = {
      val o = sec.oracleTimes.toMap
      val rs = sec.ok.flatMap(r => o.get(r.name).filter(_ > 0).map(t => r.best / t))
        .filter(_ > 0)
      if (rs.isEmpty) None else Some(math.exp(rs.map(math.log).sum / rs.size))
    }

    /** Rebuild (full, slim) from the current state. The slim line stays
      * inside the driver's ~2 KB stdout tail budget (r16); the full record
      * carries per-rep telemetry. */
    def artifacts(partial: Boolean): (String, String) = {
      val results = smallSec.map(_.records).getOrElse(Nil)
      val qs = smallSec.map(_.queriesJson).getOrElse("{}")
      val errs = smallSec.map(_.errsJson).getOrElse("{}")
      val total = smallSec.map(_.total).getOrElse(0.0)
      val oraclePart = smallSec.map { s =>
        s.oracleJson("") +
          (if (s.oracleTimes.isEmpty) ""
           else s""","oracle_policy":"duckdb min-of-5 (same 5 draws as the Spark side at this SF; scale sections min-of-3, heavy rows 1), threads=$cpus, interleaved per query behind the load gate"""")
      }.getOrElse("")
      val hugeSec = hugeLightSec.map(l => mergeSection(l, hugeHeavySec))
        .orElse(hugeHeavySec)
      val megaSec = megaLightSec.map(l => mergeSection(l, megaHeavySec))
        .orElse(megaHeavySec)
      val (bigCompact, bigFullExtra) = bigSec match {
        case None => ("", "")
        case Some(sec) =>
          (s""","big_queries":${sec.queriesJson},"big_errors":${sec.errsJson},"big_total":${sec.total},"big_sf":"$bigDir","big_warm_io_sec":$bigWarmIo,"big_calib_sec":$bigCalib${sec.oracleJson("big_")}""",
           s""","big_reps":${jsonReps(sec.records)}""")
      }
      def scaleJson(label: String, dir: String, warmIo: Double, calib: Double,
                    merged: Option[SectionOut], dropped: Seq[String],
                    childRc: Option[Int]): (String, String) = merged match {
        case None => ("", "")
        case Some(sec) =>
          val droppedJson =
            if (dropped.isEmpty) ""
            else s""","${label}_dropped":${dropped.map(d => "\"" + esc(d) + "\"").mkString("[", ",", "]")}"""
          val rcJson = childRc.map(rc => s""","${label}_child_rc":$rc""").getOrElse("")
          (s""","${label}_queries":${sec.queriesJson},"${label}_errors":${sec.errsJson},"${label}_total":${sec.total},"${label}_sf":"$dir","${label}_warm_io_sec":$warmIo,"${label}_calib_sec":$calib${sec.oracleJson(s"${label}_")}$droppedJson$rcJson""",
           s""","${label}_reps":${jsonReps(sec.records)}""")
      }
      val (hugeCompact, hugeFullExtra) =
        scaleJson("huge", hugeDir, hugeWarmIo, hugeCalib, hugeSec, hugeDropped, hugeChildRc)
      val (megaCompact, megaFullExtra) =
        scaleJson("mega", megaDir, megaWarmIo, megaCalib, megaSec, megaDropped, megaChildRc)
      // a small-only artifact must never masquerade as a full window
      val partialJson = (if (partial) s""","partial":true""" else "") +
        (if (smallOnly) s""","small_only":true""" else "")
      val compact =
        s""""metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"""" +
        s""","rep_policy":"min-of-reps","load_start":$loadAtStart,"load_end":${loadavg()}""" +
        s""","load_gate":{"threshold_cores":$gateCores,"total_waited_sec":$gateWaitedTotal""" +
        s""","policy":"each rep waits (bounded) until external busy cores from an idle-window /proc/stat sample drop under the gate"}""" +
        s""","small_profile":"shuffle.partitions=8 + adaptive.enabled=false (small-SF section only)"""" +
        s""","calib_sec":$smallCalib,"calib_policy":"min-of-2 fixed 200M-range codegen sum at section start; box-speed canary for cross-window drift"""" +
        partialJson + oraclePart + bigCompact + hugeCompact + megaCompact
      val full = s"""{$compact,"reps":${jsonReps(results)}$bigFullExtra$megaFullExtra$hugeFullExtra}"""
      // STDOUT LINE MUST FIT THE DRIVER'S TAIL BUDGET (r16): the driver
      // keeps only the LAST ~2000 chars of stdout, and the rich compact
      // record outgrew that in r14 — BENCH_r14/r15.json both carry
      // "parsed": null because the line's HEAD was truncated away. The
      // SLIM line (~1.3 KB) carries the contract keys with 3-decimal
      // values, per-section spark-vs-oracle geomeans, the calib canaries,
      // dropped rows, child exit codes, and the full-record pointer.
      val slimQueries = smallSec.map(_.ok
        .map(r => "\"" + esc(r.name) + "\":" + f"${r.best}%.3f").mkString("{", ",", "}"))
        .getOrElse("{}")
      val gms = Seq("sf0.1" -> smallSec, "sf1" -> bigSec,
          "sf3" -> hugeSec, "sf10" -> megaSec)
        .flatMap { case (k, s) => s.flatMap(geomeanOf).map(g => "\"" + k + "\":" + f"$g%.2f") }
        .mkString("{", ",", "}")
      val calibs = Seq(
          "sf0.1" -> (if (smallSec.isDefined) Some(smallCalib) else None),
          "sf1" -> (if (bigSec.isDefined) Some(bigCalib) else None),
          "sf3" -> (if (hugeSec.isDefined) Some(hugeCalib) else None),
          "sf10" -> (if (megaSec.isDefined) Some(megaCalib) else None))
        .flatMap { case (k, c) => c.map(v => "\"" + k + "\":" + f"$v%.3f") }
        .mkString("{", ",", "}")
      val droppedAll = (hugeDropped.map("huge:" + _) ++ megaDropped.map("mega:" + _))
        .map(d => "\"" + esc(d) + "\"").mkString("[", ",", "]")
      val rcs = (hugeChildRc.map(rc => "\"huge\":" + rc).toSeq ++
        megaChildRc.map(rc => "\"mega\":" + rc).toSeq)
      val rcJson = if (rcs.isEmpty) "" else s""","child_rc":${rcs.mkString("{", ",", "}")}"""
      val slim =
        s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$slimQueries,"errors":$errs,"sf":"$sfDir"""" +
        s""","oracle_geomeans":$gms,"calib_sec":$calibs,"dropped":$droppedAll$rcJson$partialJson""" +
        s""","full_record":"${esc(fullPath)}"}"""
      (full, slim)
    }
    /** Write both artifact files; returns the slim line for printing.
      * ADVICE r20: per-row rewrites are write-temp + ATOMIC_MOVE (a parent
      * hard-kill mid-write can no longer leave a torn artifact), failures
      * log to stderr instead of vanishing, and a failed full-record write
      * dumps the record to stderr and drops the slim line's stale
      * full_record pointer. */
    def writeAtomic(path: String, content: String): Boolean = try {
      val tmp = java.nio.file.Paths.get(path + ".tmp")
      java.nio.file.Files.writeString(tmp, content)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed ($path): ${e.getMessage}")
      false
    }
    def flush(partial: Boolean): String = {
      val (full, slim) = artifacts(partial)
      val fullOk = writeAtomic(fullPath, full + "\n")
      if (!fullOk) System.err.println("[bench] full record (write failed): " + full)
      val slimOut =
        if (fullOk) slim
        else slim.replace(s""","full_record":"${esc(fullPath)}"""", "")
      writeAtomic(slimPath, slimOut + "\n")
      slimOut
    }

    // SMALL-INPUT BENCH PROFILE (VERDICT r13 item 1b): at sf0.1 most
    // headline rows are stage-launch-floor bound over sub-100 ms oracles;
    // letting AQE coalesce post-shuffle partitions to the advisory size
    // (parallelismFirst=false, the production-recommended setting) trims
    // the tiny-stage task count. A/B at sf0.1: q4 0.50->0.41 s, q12
    // 0.53->0.46 s, json 0.25->0.21 s, sessions 0.25->0.21 s, never worse.
    // Big-SF sections RESET it: the same knob under-parallelizes real
    // shuffles (sf10 q3 4.8->8.5 s in the same A/B), so it is strictly a
    // small-input profile, recorded in the artifact.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // r18 addition to the small profile: 8 shuffle partitions. r12 saw
    // this trim ~15% but never adopted it; the r18 in-process A/B
    // (FloorLab, SPARK_GRAFT_AB_CONF) confirmed it on 10 of 12 floor rows
    // — sessions 0.200->0.157, top_order 0.315->0.271, hourly
    // 0.209->0.180, q12 0.435->0.402 — and never materially hurt. Fewer
    // post-shuffle tasks to launch per stage is the whole effect; the
    // big-SF sections RESET to the core count below (8 partitions would
    // under-parallelize real shuffles there).
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // ...and AQE off: with partitions pinned at 8 there is nothing left
    // for AQE to coalesce at this SF, so its per-exchange materialization
    // barrier + replan is pure overhead. r18 in-process A/B (on top of
    // partitions=8): q3 0.599->0.540, funnel 0.147->0.132, top_order
    // 0.259->0.237, hourly/asof/q4 smaller wins; q5 +0.017 and interval
    // +0.033 the only regressions — net positive. (r16 measured AQE-off
    // as always-worse, but that was against 32 initial partitions, where
    // coalescing carried real weight.) Scale sections reset both.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // floor rows first, heavy LLM rows last, in every section (see the
    // scale-section comment below)
    val orderedNames = Queries.benchNames.filterNot(heavyNames.contains) ++
      Queries.benchNames.filter(heavyNames.contains)
    smallCalib = calibrate(spark)
    smallSec = Some(runSection(spark, qmap, sfDir, orderedNames,
      oracleNames, cpus, small = true,
      onRow = s => { smallSec = Some(s); flush(partial = true) }))
    println(flush(partial = !smallOnly))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // local-iteration switch: skip every scale section (the driver never
    // sets this; a small-section A/B otherwise costs 40+ min of replica
    // passes)
    if (smallOnly) { spark.stop(); return }

    // Scale-up pass: the ~10x replica dataset (tools/ScaleUp) proves the
    // fixed Spark overhead amortizes. Reported under big_* keys.
    // bigdata/ is gitignored and does not survive between rounds: regenerate
    // it rather than silently dropping the scale-up evidence (~75 s once).
    // Only the DEFAULT dir is regenerated at the default 10 copies — a
    // custom SPARK_GRAFT_BIG_DIR must state its scale via
    // SPARK_GRAFT_BIG_COPIES or pre-exist, so a missing 30x dir is never
    // silently refilled with 10x data and mislabeled.
    val defaultBigDir = "bigdata/sf1"
    if (!new java.io.File(s"$bigDir/lineitem.parquet").exists()) {
      val copies = sys.env.get("SPARK_GRAFT_BIG_COPIES").map(_.toInt)
      copies match {
        case Some(c) =>
          try { graft.tools.ScaleUp.run(spark, dst = bigDir, copies = c)
                System.err.println(s"[bench] regenerated $bigDir at $c copies") }
          catch { case e: Throwable =>
            System.err.println(s"[bench] scale-up regen failed: ${e.getMessage}") }
        case None if bigDir == defaultBigDir =>
          try { graft.tools.ScaleUp.run(spark, dst = bigDir)
                System.err.println(s"[bench] regenerated $bigDir at default 10 copies") }
          catch { case e: Throwable =>
            System.err.println(s"[bench] scale-up regen failed: ${e.getMessage}") }
        case None =>
          System.err.println(s"[bench] $bigDir missing and SPARK_GRAFT_BIG_COPIES unset; " +
            "skipping big pass rather than regenerating at an unknown scale")
      }
    }
    if (new java.io.File(s"$bigDir/lineitem.parquet").exists()) {
      bigWarmIo = warmPageCache(bigDir)
      bigCalib = calibrate(spark)
      bigSec = Some(runSection(spark, qmap, bigDir, orderedNames,
        oracleNames, cpus, small = false,
        onRow = s => { bigSec = Some(s); flush(partial = true) }))
      println(flush(partial = true))
    }

    // Scale sections for the floor-pinned queries (b_tpch_q1/q3/q5,
    // sessions): they measure sub-1.5 s absolute at 10x, which is Spark's
    // fixed per-stage floor, not data-bound work — the flat-vs-linear
    // claim needs points where the oracle's linear growth overtakes the
    // floor, measured in the same window. 30x (huge_*) and 100x (mega_* —
    // where q5 and sessions cross under the oracle's 2x bar) run only the
    // floor set; regen is ~45 s / ~2 min once per round, the dirs are
    // gitignored.
    //
    // SECTION ORDER (VERDICT r15 item 1 — the r15 artifact silently
    // dropped its whole sf10 section because the sf3 heavy-LLM oracle
    // time pushed the run past a wall-clock skip): every section's FLOOR
    // rows run first at every SF — small, big, huge-light, mega-light —
    // so the 100x evidence is ALWAYS in the artifact; the heavy LLM
    // flagships (minhash dedup, dup spans, bloom decontam — quadratic dup
    // cliques on the replica corpora) run last globally, budget-gated,
    // in a child JVM, and when the budget trips THEY are dropped
    // (recorded under "<label>_dropped"), never the section.
    val lightFloor = Seq("b_tpch_q1", "b_tpch_q3", "b_tpch_q4", "b_tpch_q5",
      "b_tpch_q12", "b_events_sessions", "b_events_funnel", "l_bpe_train",
      "l_text_normalize")
    def elapsedMin: Double = (System.nanoTime() - benchStart) / 6e10
    def ensureDir(dir: String, copies: Int): Boolean = {
      if (!new java.io.File(s"$dir/lineitem.parquet").exists()) {
        try { graft.tools.ScaleUp.run(spark, dst = dir, copies = copies)
              System.err.println(s"[bench] regenerated $dir at $copies copies") }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${copies}x regen failed: ${e.getMessage}") }
      }
      new java.io.File(s"$dir/lineitem.parquet").exists()
    }

    val hugeOk = ensureDir(hugeDir, 30)
    if (hugeOk) {
      hugeWarmIo = warmPageCache(hugeDir)
      hugeCalib = calibrate(spark)
      hugeLightSec = Some(runSection(spark, qmap, hugeDir, lightFloor, lightFloor,
        cpus, small = false,
        onRow = s => { hugeLightSec = Some(s); flush(partial = true) }))
      println(flush(partial = true))
    }
    val megaOk = ensureDir(megaDir, 100)
    if (megaOk) {
      megaWarmIo = warmPageCache(megaDir)
      megaCalib = calibrate(spark)
      megaLightSec = Some(runSection(spark, qmap, megaDir, lightFloor, lightFloor,
        cpus, small = false,
        onRow = s => { megaLightSec = Some(s); flush(partial = true) }))
      println(flush(partial = true))
    }

    // heavy LLM passes, budget-gated per section (gates in minutes of
    // total bench elapsed; overridable for local experiments).
    // ORDER (r19, VERDICT r18 item 2): the MEGA heavies run FIRST — the
    // sf10 heavy rows are the round's strongest scale evidence (bloom
    // 0.41-0.59x, dup_spans 0.11x, minhash vs an oracle that cannot
    // finish), and r18's mega-last ordering left exactly those rows out
    // of the authoritative artifact when the sf3 heavy pass overran its
    // budget. If anything must drop under a slow window it is now the
    // sf3 heavies, whose oracle ratios r18 already put on record.
    //
    // CHILD JVM (r20, VERDICT r19 item 1c): each heavy pass runs in its
    // own JVM (same session recipe, same runSection code) that serializes
    // the section-so-far to disk after every row. The r19 death — the
    // in-process executor's exit-56 self-kill during the sf10 minhash
    // sort — can now cost at most the REMAINDER of one heavy pass: the
    // parent reads the child's last flush, records the missing rows under
    // "<label>_dropped" and the exit code under "<label>_child_rc", and
    // the final artifact still lands. SPARK_GRAFT_HEAVY_INPROC=1 keeps
    // the old in-process path for debugging; a failed child LAUNCH also
    // falls back in-process (never silently dropping the pass).
    // GATES RAISED r21 (VERDICT r20 item 1): r20's acceptance window
    // dropped all six heavy rows — the light sections ran slow (~20 min),
    // the mega child hit its 24-min cap (the pre-collapse sf10 minhash
    // could not finish 900 s reps), and by the huge pass the 36-min gate
    // had tripped. The minhash signature-group collapse cut the sf10 row
    // from 780-900+ s to ~21-40 s, so the EXPECTED mega child is now
    // ~8 min and the whole window lands ~35 min; the gates only exist for
    // a catastrophically degraded box, so they sit past the r20 observed
    // 44-min envelope rather than inside it. A gate trip still drops only
    // heavy rows, loudly, never the sections.
    val megaHeavyGate = envDouble("SPARK_GRAFT_HEAVY_GATE_MEGA", 38.0)
    val hugeHeavyGate = envDouble("SPARK_GRAFT_HEAVY_GATE_HUGE", 50.0)
    // 24 min (r20): the first child-JVM window measured the sf10 pass at
    // minhash-rep (900 s cap) + its oracle interrupt (210 s) + bloom/spans
    // (~3 min) ≈ 21 min — a 20 min cap killed the child mid-minhash and
    // cost the round's one missing row. Worst-case end stays inside the
    // driver's observed 45-48 min tolerance, and a kill still leaves every
    // flushed row.
    val childCapMin = envDouble("SPARK_GRAFT_CHILD_CAP_MIN", 24.0)
    def inProcessHeavy(dir: String, rows: Seq[String], sparkReps: Int,
                       store: SectionOut => Unit): SectionOut =
      runSection(spark, qmap, dir, rows, heavyNames, cpus,
        small = false, heavySparkReps = sparkReps,
        onRow = s => { store(s); flush(partial = true) })
    def heavyPass(ok: Boolean, dir: String, gate: Double, label: String,
                  rows: Seq[String], sparkReps: Int,
                  store: SectionOut => Unit): (Seq[String], Option[Int]) = {
      if (!ok) return (Nil, None)
      if (elapsedMin > gate) {
        System.err.println(f"[bench] dropping $label heavy LLM rows at $elapsedMin%.1f min " +
          f"(gate $gate%.0f); the section's floor rows are already recorded")
        return (rows, None)
      }
      if (sys.env.get("SPARK_GRAFT_HEAVY_INPROC").contains("1")) {
        store(inProcessHeavy(dir, rows, sparkReps, store)); return (Nil, None)
      }
      try {
        val out = java.nio.file.Files.createTempDirectory("graft_heavy_" + label)
          .resolve("section.bin")
        val javaBin = System.getProperty("java.home") + "/bin/java"
        import scala.jdk.CollectionConverters._
        // ADVICE r20: the child must NOT inherit the parent's -Xmx/-Xms —
        // two max-heap (40g) JVMs plus a DuckDB oracle on one box invite
        // an OS OOM kill that could take the PARENT, the one process the
        // crash-proof design assumes survives. The heavy rows' real
        // working set is far under the parent's headroom (the r18
        // in-process sf10 minhash fit alongside everything else); the
        // child gets an explicit bounded heap instead.
        val childHeap = sys.env.getOrElse("SPARK_GRAFT_CHILD_HEAP", "28g")
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq
          .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
        val cp = System.getProperty("java.class.path")
        val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(s"-Xmx$childHeap", "-cp", cp,
          "graft.BenchHeavyChild",
          out.toString, dir, sparkReps.toString, cpus, rows.mkString(","))
        System.gc() // shed parent heap before a second 40g JVM shares the box
        val proc = new ProcessBuilder(cmd: _*).inheritIO().start()
        val finished = proc.waitFor((childCapMin * 60).toLong,
          java.util.concurrent.TimeUnit.SECONDS)
        val rc =
          if (finished) proc.exitValue()
          else {
            System.err.println(f"[bench] $label heavy child exceeded $childCapMin%.0f min; killing")
            // ADVICE r20: destroyForcibly() kills only the child JVM, not
            // its descendant DuckDB oracle subprocess (OracleRunner spawns
            // a ProcessBuilder child) — a forcible kill runs no shutdown
            // hooks, so an unfinishable sf10 oracle would orphan, burn the
            // box, stall the load gate and contaminate the next section.
            // Snapshot and kill the whole descendant tree around the kill.
            import scala.jdk.CollectionConverters._
            val kids = proc.toHandle.descendants().iterator().asScala.toList
            kids.foreach(_.destroyForcibly())
            proc.destroyForcibly(); proc.waitFor()
            // survivors re-parented during the race: one more sweep
            kids.filter(_.isAlive).foreach(_.destroyForcibly())
            -1
          }
        val sec = readSection(out)
        sec.foreach(store)
        val done = sec.map(_.records.map(_.name)).getOrElse(Nil)
        val missing = rows.filterNot(done.contains)
        if (rc != 0 || missing.nonEmpty)
          System.err.println(s"[bench] $label heavy child rc=$rc, recorded ${done.size}/${rows.size} rows")
        (missing, Some(rc))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $label heavy child failed to launch " +
          s"(${e.getMessage}); running in-process")
        store(inProcessHeavy(dir, rows, sparkReps, store)); (Nil, None)
      }
    }
    // MINHASH-FIRST in the mega child (r20, VERDICT r19 item 4): the sf10
    // minhash number (or its symmetric failure) is the round's one missing
    // piece of evidence, while bloom/dup_spans sf10 ratios are on record —
    // so the evidence row gets the child's budget first and a cap kill can
    // only cost rows the record already has. The huge pass keeps the
    // default order (its minhash oracle is recordable at ~115 s, no
    // asymmetry to protect).
    val megaRows = heavyNames.filter(_ == "l_dedup_minhash") ++
      heavyNames.filterNot(_ == "l_dedup_minhash")
    val (megaMissing, megaRc) = heavyPass(megaOk, megaDir, megaHeavyGate, "mega",
      rows = megaRows, sparkReps = 1, store = s => megaHeavySec = Some(s))
    megaDropped = megaMissing; megaChildRc = megaRc
    println(flush(partial = true))
    val (hugeMissing, hugeRc) = heavyPass(hugeOk, hugeDir, hugeHeavyGate, "huge",
      rows = heavyNames, sparkReps = 2, store = s => hugeHeavySec = Some(s))
    hugeDropped = hugeMissing; hugeChildRc = hugeRc

    // The final write clears the partial marker; the slim line ALSO goes
    // to a fixed file (VERDICT r17 item 2: the driver's stdout tail is
    // subject to sbt logger prefixes and trailers, so the contract must
    // not depend on stdout munging).
    println(flush(partial = false))
    spark.stop()
  }
}

/** Heavy-pass worker (r20, VERDICT r19 item 1c): runs ONE scale section's
  * heavy LLM rows in its own JVM so a hard death — the r19 exit-56
  * heartbeat self-kill, an OOM inside the sf10 minhash sort — costs at
  * most this pass, never the bench record. The section-so-far serializes
  * to `args(0)` after every row (write-temp + atomic move, so the parent
  * never reads a torn file). args: outPath, sfDir, sparkReps, cpus,
  * rows (comma-separated; default the heavy set — the mega parent passes
  * minhash first so the evidence row owns the budget).
  * SPARK_GRAFT_FAULT_CHILD_KILL=1 halts(56) after the first row — the
  * fault-injection proof that the parent survives a hard child death. */
object BenchHeavyChild {
  def main(args: Array[String]): Unit = {
    val outPath = args(0); val dir = args(1)
    val sparkReps = args(2).toInt
    val cpus = args.lift(3).getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val rows = args.lift(4).map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Bench.heavyNames)
    val spark = Bench.buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val qmap = Queries.all.map { case (n, q, _) => n -> q }.toMap
    // one tiny-SF pass per heavy query: codegen + JIT warmup, seconds of
    // cost against rows that run minutes
    for (n <- rows)
      try qmap(n)(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    def save(sec: SectionOut): Unit = try {
      val tmp = java.nio.file.Paths.get(outPath + ".tmp")
      val oos = new java.io.ObjectOutputStream(java.nio.file.Files.newOutputStream(tmp))
      try oos.writeObject(sec) finally oos.close()
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable =>
      System.err.println(s"[bench-child] section flush failed: ${e.getMessage}")
    }
    val killAfterFirst = sys.env.get("SPARK_GRAFT_FAULT_CHILD_KILL").contains("1")
    var rowsDone = 0
    val sec = Bench.runSection(spark, qmap, dir, rows, Bench.heavyNames,
      cpus, small = false, heavySparkReps = sparkReps,
      onRow = s => {
        save(s); rowsDone += 1
        if (killAfterFirst && rowsDone == 1) {
          System.err.println("[bench-child] fault-injected hard death (halt 56)")
          Runtime.getRuntime.halt(56)
        }
      })
    save(sec)
    spark.stop()
    sys.exit(0)
  }
}
