package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The relational dispatchers size their inputs by parquet footer row
  * counts; the count must equal what Spark reads, for a single-file table
  * and for a multi-part directory carrying a layout marker, `_SUCCESS` and
  * `.crc` side files (none of which are data). A layout copy given as a
  * dir relative to the working directory must register catalog tables
  * that point at its files, not at the warehouse dir. */
class FooterRowsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var copy: java.io.File = _
  private var relCopy: java.io.File = _
  private val src = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-footer-rows").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    if (copy != null) rm(copy)
    if (relCopy != null) rm(relCopy)
    if (spark != null) spark.stop()
  }

  test("footerRows equals count() for a single-file table") {
    assert(new java.io.File(s"$src/orders.parquet").isFile)
    val n = spark.read.parquet(s"$src/orders.parquet").count()
    assert(n > 0)
    assert(Queries.footerRows(src, "orders") === n)
  }

  test("footerRows equals count() for a multi-part bucketed copy with marker, _SUCCESS and .crc files") {
    copy = java.nio.file.Files.createTempDirectory("graft_footer_rows").toFile
    val dst = copy.getPath
    graft.tools.ScaleUp.run(spark, src = src, dst = dst, copies = 1)
    for (t <- Seq("lineitem", "orders", "events")) {
      val names = new java.io.File(s"$dst/$t.parquet").list().toSeq
      assert(names.count(_.endsWith(".parquet")) > 1, s"$t must be multi-part")
      assert(names.contains("_graft_buckets.json") && names.contains("_SUCCESS"))
      assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
      assert(Queries.footerRows(dst, t) === spark.read.parquet(s"$dst/$t.parquet").count(),
        s"$t footer rows must equal the scanned count")
    }
  }

  test("a bucketed copy given as a relative dir scans its own rows") {
    val target = new java.io.File("target")
    target.mkdirs()
    relCopy = java.nio.file.Files.createTempDirectory(target.toPath, "graft_relative_dir").toFile
    val dst = relCopy.getPath
    assert(!relCopy.isAbsolute)
    graft.tools.ScaleUp.run(spark, src = src, dst = dst, copies = 1)
    val q4 = Queries.all.collectFirst { case ("b_tpch_q4", q, _) => q }.get
    Queries.prep(spark, src)
    val want = q4(spark, src).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    Queries.prep(spark, dst)
    val got = q4(spark, dst)
    assert(got.queryExecution.executedPlan.toString.contains("SelectedBucketsCount"),
      "the relative copy must be read through its bucketed catalog tables")
    assert(got.collect().map(_.toSeq).toSeq === want)
  }
}
