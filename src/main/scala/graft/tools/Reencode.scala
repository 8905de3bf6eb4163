package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** r19 probe (VERDICT r18 item 5b): re-encode a bench dir with a different
  * parquet codec (zstd/snappy/none) to measure whether fewer stored bytes
  * move the committed reader-floor ratio — both engines read the same
  * re-encoded files, so the comparison stays symmetric. Bucketed tables
  * (layout marker present) are rewritten through the same
  * repartition+bucketBy+sortBy path ScaleUp uses, so the co-located layout
  * and its `_graft_buckets.json` marker survive the re-encode; flat tables
  * rewrite plain.
  *
  * Usage: runMain graft.tools.Reencode <src> <dst> <codec>
  */
object Reencode {
  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val codec = args.lift(2).getOrElse("zstd")
    // in-place would read-overwrite the very table being read (ADVICE r19)
    require(new java.io.File(src).getCanonicalPath != new java.io.File(dst).getCanonicalPath,
      s"reencode: dst must differ from src (got '$src' -> '$dst')")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", false)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", codec)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables if new java.io.File(s"$src/$t.parquet").exists()) {
      val path = s"$dst/$t.parquet"
      val df = spark.read.parquet(s"$src/$t.parquet")
      val markerFile = new java.io.File(s"$src/$t.parquet/_graft_buckets.json")
      // a malformed marker used to throw mid-run via .get (ADVICE r19):
      // parse defensively and fall through to the flat rewrite with a
      // warning instead of aborting the remaining tables
      val marker: Option[(String, Int)] = if (!markerFile.exists()) None else {
        val txt = { val s0 = scala.io.Source.fromFile(markerFile)
          try s0.mkString finally s0.close() }
        val parsed = for {
          k <- "\"key\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
          n <- "\"buckets\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        } yield (k, n)
        if (parsed.isEmpty)
          System.err.println(s"[reencode] WARNING: unparseable bucket marker for $t; rewriting flat")
        parsed
      }
      if (marker.isDefined) {
        val (key, n) = marker.get
        val tbl = graft.spark.Queries.bucketTableName(t, dst, key, n)
        val prefix = graft.spark.Queries.bucketTablePrefix(t, dst).toLowerCase
        spark.catalog.listTables().collect()
          .filter(_.name.toLowerCase.startsWith(prefix))
          .foreach(x => spark.sql(s"DROP TABLE IF EXISTS ${x.name}"))
        df.repartition(n, col(key))
          .write.mode("overwrite")
          .bucketBy(n, key).sortBy(key)
          .option("path", graft.spark.Queries.qualifiedPath(spark, path))
          .option("compression", codec)
          .saveAsTable(tbl)
        val pw = new java.io.PrintWriter(s"$path/_graft_buckets.json")
        try pw.print(s"""{"key":"$key","buckets":$n,"sorted":true}""")
        finally pw.close()
        println(s"[reencode] $t -> $codec (bucketed on $key x $n)")
      } else {
        df.write.mode("overwrite").option("compression", codec).parquet(path)
        println(s"[reencode] $t -> $codec")
      }
    }
    spark.stop()
  }
}
