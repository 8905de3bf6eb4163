package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Side-by-side parquet SCAN-ONLY microbenchmark (verdict r12 item 4):
 * reads exactly the columns b_tpch_q1 touches (returnflag, linestatus,
 * quantity, extendedprice, discount) through a trivial global aggregate
 * — no group keys, no exchange beyond the single-row partial merge — in
 * BOTH engines, same files, same window, min-of-3. If Spark's scan-only
 * time accounts for most of its q1 total while DuckDB's scan-only time
 * matches its q1 total, the q1/q3 ratio residual is reader throughput,
 * not plan shape.
 *
 * Usage: SPARK_GRAFT_CONF=... runMain graft.tools.ScanBench <sfDir>...
 */
object ScanBench {
  def main(args: Array[String]): Unit = {
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", false)
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }

    for (dir <- args) {
      val li = s"$dir/lineitem.parquet"
      // spark scan-only: q1's columns, single global agg. The Dataset is
      // rebuilt per rep — reps on one Dataset instance silently REUSE the
      // first run's shuffle map output and skip the scan entirely (an
      // earlier draft "measured" 1.1 GB in 0.03 s that way). 4 reps,
      // first discarded as warmup (FileIndex + codegen).
      var sparkBest = Double.MaxValue
      val reps = scala.collection.mutable.ArrayBuffer[Double]()
      for (r <- 1 to 4) {
        val t0 = System.nanoTime()
        spark.read.parquet(li)
          .agg(sum("l_quantity"), sum("l_extendedprice"), sum("l_discount"),
            count(lit(1)), max("l_returnflag"), max("l_linestatus"))
          .collect()
        val dt = (System.nanoTime() - t0) / 1e9
        reps += dt
        if (r > 1) sparkBest = math.min(sparkBest, dt)
      }
      // q1 itself in the same session, for the scan-vs-total decomposition
      graft.spark.Queries.prep(spark, dir)
      val q1 = graft.spark.Queries.all.collectFirst {
        case ("b_tpch_q1", q, _) => q }.get
      var q1Best = Double.MaxValue
      for (r <- 1 to 4) {
        val t0 = System.nanoTime()
        q1(spark, dir).collect()
        if (r > 1) q1Best = math.min(q1Best, (System.nanoTime() - t0) / 1e9)
      }
      // duckdb scan-only, same columns and aggregate, same thread count
      val glob = if (new java.io.File(li).isDirectory) s"$li/*.parquet" else li
      val py =
        s"""import duckdb, time
           |con = duckdb.connect(); con.execute('PRAGMA threads=32')
           |best = 1e18
           |for _ in range(3):
           |    t0 = time.time()
           |    con.execute(\"\"\"SELECT sum(l_quantity), sum(l_extendedprice),
           |      sum(l_discount), count(*), max(l_returnflag), max(l_linestatus)
           |      FROM read_parquet('$glob')\"\"\").fetchall()
           |    best = min(best, time.time() - t0)
           |print('%.3f' % best)
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("scanbench", ".py")
      java.nio.file.Files.writeString(f, py)
      val duck = try {
        val p = new ProcessBuilder("python3", f.toString).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        p.waitFor()
        out.toDouble
      } catch { case _: Throwable => -1.0 } finally java.nio.file.Files.delete(f)
      println(f"$dir load=${loadavg()}%.2f spark_scan=$sparkBest%.3f s " +
        f"(reps ${reps.map(r => f"$r%.2f").mkString(",")}) spark_q1=$q1Best%.3f s " +
        f"duckdb_scan=$duck%.3f s scan_ratio=${sparkBest / duck}%.2f")
    }
    spark.stop()
  }
}
