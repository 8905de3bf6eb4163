package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ANN-LSH hot-bucket salting is candidate-preserving: with one SRP
  * bucket holding far more corpus rows than the cap, a forced small cap
  * splits that bucket across salts, yet `lshTopK` and
  * `cosineNearDupPairs` return the same bags as the unsalted join. */
class AnnSaltSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val Cap = 16

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false)
      .appName("graft-ann-salt-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 120 near-copies of one direction (one SRP bucket) plus 80 random
    * vectors spread over the other buckets. */
  private def embeddings = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = Array.tabulate(dim)(d => (if (d % 3 == 0) -1.0 else 1.0) * (1 + d % 5))
    val hot = (1 to 120).map(i =>
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 1e-3).toFloat)))
    val tail = (121 to 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    (hot ++ tail).toDF("vec_id", "embedding")
  }

  test("the fixture has an SRP bucket larger than the cap") {
    val biggest = embeddings
      .groupBy(Ann.packBits(Ann.srpSignature(col("embedding"), 8), 8))
      .count().agg(max("count")).head().getLong(0)
    assert(biggest > Cap, s"largest bucket $biggest must exceed the cap $Cap")
  }

  test("lshTopK: forced salting returns the unsalted top-k bag") {
    val s = spark; import s.implicits._
    val emb = embeddings
    val queries = emb.where(col("vec_id") % 5 === 0)
    def topk(cap: Int) = Ann.lshTopK(queries, emb, k = 4, maxBucket = cap)
    val salted = topk(Cap)
    assert(salted.queryExecution.executedPlan.toString.contains("__nsplit"))
    assert(!topk(0).queryExecution.executedPlan.toString.contains("__nsplit"))
    def bag(cap: Int) = topk(cap).select("q_id", "c_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val unsalted = bag(0)
    assert(unsalted.nonEmpty)
    assert(bag(Cap) === unsalted)
  }

  test("cosineNearDupPairs: forced salting returns the unsalted pair bag") {
    val s = spark; import s.implicits._
    val emb = embeddings
    def pairs(cap: Int) = Ann.cosineNearDupPairs(emb, threshold = 0.95, maxBucket = cap)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().sorted.toSeq
    val unsalted = pairs(0)
    assert(unsalted.size >= 120 * 119 / 2, "the near-copy class must pair up")
    assert(pairs(Cap) === unsalted)
  }
}
