package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GeoCodec, Relate, S2CellId, Wkt}
import graft.llm.Dedup
import graft.spark.{FanOut, GeoParquet, KnnJoin, Queries, S2Data, S2Functions, S2Join}

/** One timed query: `plan` is the public call (eager probes included),
  * `run` the action. The default action is a one-row fingerprint (row
  * count + order-free sum of row hashes), so reps can be compared without
  * moving results to the driver. `check` validates the rows of one extra
  * execution after the timed window, by an independent path; it returns
  * the failure reason, if any. */
final case class Q(name: String, module: String, rows: Long,
                   plan: SparkSession => DataFrame,
                   check: Array[Row] => Option[String],
                   run: Option[DataFrame => Fp] = None,
                   traceOnly: Boolean = false)

final case class Fp(rows: Long, hash: Long)

object Fp {
  /** Runs the fingerprint action; also returns the executed frame, whose
    * post-AQE plan and SQL metrics the traced run reads. */
  def run(df: DataFrame): (Fp, DataFrame) = {
    val agg = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(2147483647L))), lit(0L)))
    val r = agg.collect()(0)
    (Fp(r.getLong(0), r.getLong(1)), agg)
  }
}

/** A workload: seeded inputs, the set-up that opens them, and its
  * queries. `generate` runs outside every timed section. */
abstract class Workload {
  def name: String
  /** Sizes, input digest and the input properties the run records. */
  def describe: Map[String, Any]
  def generate(spark: SparkSession, dir: File): Unit
  def open(spark: SparkSession, dir: File): Unit
  def queries: Seq[Q]
  /** Unmeasured warm passes after the cold pass. */
  def warmupPasses: Int = 1
  /** Adaptive-gate records and extra per-layer values, computed after the
    * window in the traced run (the plans of the traced reps are passed in). */
  def gates(spark: SparkSession, plans: Map[String, DataFrame]): Seq[Map[String, Any]] = Nil
  def extraLayer(spark: SparkSession): Map[String, Double] = Map.empty
  /** Result rows / candidate pairs into the spatial refine (0 if no join). */
  def refineYield(spark: SparkSession, plans: Map[String, DataFrame], fps: Map[String, Fp]): Double = 0.0
  /** A seeded sample for the kernel and expression sections:
    * (lon, lat, wkt of mixed shapes, polygon wkt). */
  def sample: (Array[Double], Array[Double], Array[String], Array[String])
}

object Workloads {
  def apply(name: String, seed: Long, toy: Boolean, dataDir: Option[String]): Workload = name match {
    case "geo_join" => new GeoJoinW(seed, toy)
    case "geo_ingest" => new IngestW(seed, toy)
    case "relational" => new RelationalW(seed, dataDir.getOrElse(sys.error("relational needs --data")))
    case "dedup" => new DedupW(seed, toy)
    case other => sys.error(s"unknown workload $other")
  }

  def ok(cond: Boolean, why: => String): Option[String] = if (cond) None else Some(why)

  /** Kernel/expression sample shared by the non-geo workloads. */
  def defaultSample(seed: Long): (Array[Double], Array[Double], Array[String], Array[String]) = {
    val g = Gen.geoJoin(seed, Gen.GeoJoinSizes(16000, 600, 10))
    val (ing, _) = Gen.ingest(seed, 16000)
    (g.lon, g.lat, ing.map(_.wkt), g.zoneWkt)
  }
}

// ------------------------------------------------------------------ geo_join

final class GeoJoinW(seed: Long, toy: Boolean) extends Workload {
  val name = "geo_join"
  val sizes =
    if (toy) Gen.GeoJoinSizes(2000, 600, 10)
    else Gen.GeoJoinSizes(4000, 600, 5)
  val dwithinM = 3000.0
  val knnK = 5
  lazy val in = Gen.geoJoin(seed, sizes)
  private val ShapeCacheCap = 512

  def describe: Map[String, Any] = Map(
    "digest" -> in.digest,
    "sizes" -> Map("points" -> sizes.points, "zones" -> sizes.zones, "countries" -> 177,
      "knn_targets" -> nTargets, "knn_brute_queries" -> nBrute,
      "knn_rounds_queries" -> nRounds, "dwithin_subset" -> sizes.points / sizes.dwithinEvery,
      "dwithin_m" -> dwithinM, "knn_k" -> knnK),
    "properties" -> Map(
      "hot_metro" -> in.hotCenter._1,
      "hot_metro_share" -> in.kind.count(_ == 0).toDouble / in.kind.length,
      "city_share" -> in.kind.count(_ == 1).toDouble / in.kind.length,
      "uniform_share" -> in.kind.count(_ == 2).toDouble / in.kind.length,
      "countries_vs_shape_cache" -> s"177 <= $ShapeCacheCap",
      "zones_vs_shape_cache" -> s"${sizes.zones} ${if (sizes.zones > ShapeCacheCap) ">" else "<="} $ShapeCacheCap",
      "knn_brute_pairs" -> nBrute.toLong * nTargets,
      "knn_rounds_pairs" -> nRounds.toLong * nTargets,
      "knn_brute_gate_pairs" -> 2000000L))

  def generate(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(in.ids.indices.map(i => (in.ids(i), in.lon(i), in.lat(i), in.kind(i).toInt)), 8)
      .toDF("id", "lon", "lat", "kind").write.parquet(s"$dir/points")
    in.zoneWkt.zipWithIndex.map { case (w, z) => (z.toLong, w) }.toSeq.toDF("zid", "wkt")
      .coalesce(1).write.parquet(s"$dir/zones")
  }

  def open(spark: SparkSession, dir: File): Unit = {
    spark.read.parquet(s"$dir/points")
      .selectExpr("id", "lon", "lat", "kind", "s2_geogpoint(lon, lat) AS geog").createOrReplaceTempView("pts")
    spark.read.parquet(s"$dir/zones")
      .selectExpr("zid", "s2_geogfromtext(wkt) AS geog").createOrReplaceTempView("zones")
    S2Data.countries(spark).select("name", "geog").createOrReplaceTempView("countries")
  }

  private def pts(s: SparkSession) = s.table("pts").select("id", "geog")
  private def countries(s: SparkSession) = s.table("countries")
  // kNN sides by id: targets id % 3 == 1; brute queries id % 12 == 0;
  // rounds queries are the other metro/city points, so the rounds
  // converge near the targets instead of walking the empty ocean
  private def isTarget(i: Int) = i % 3 == 1
  private def isBruteQ(i: Int) = i % 12 == 0
  private def isRoundsQ(i: Int) = i % 3 != 1 && in.kind(i) != 2
  private lazy val nTargets = in.ids.indices.count(isTarget)
  private lazy val nBrute = in.ids.indices.count(isBruteQ)
  private lazy val nRounds = in.ids.indices.count(isRoundsQ)
  private def knnTargets(s: SparkSession) =
    s.table("pts").where(col("id") % 3 === 1).select(col("id").as("tid"), col("geog").as("tgeog"))
  private def knnQueries(s: SparkSession, rounds: Boolean) = {
    val p = s.table("pts")
    (if (rounds) p.where(col("id") % 3 =!= 1 && col("kind") =!= 2) else p.where(col("id") % 12 === 0))
      .select(col("id").as("qid"), col("geog"))
  }
  private def sub(s: SparkSession) = s.table("pts").where(col("id") % sizes.dwithinEvery === 0)

  // --- driver-side oracles over a seeded sample of point ids
  private lazy val sampleIds: Array[Int] = {
    val r = new java.util.SplittableRandom(seed + 77)
    Array.fill(150)(r.nextInt(sizes.points)).distinct
  }
  private def ptShapes(i: Int) = GeoCodec.decodeShapes(S2Functions.geogPoint(in.lon(i), in.lat(i)))
  private lazy val countryShapes: Seq[(String, graft.core.GeoShapes)] = {
    val in = getClass.getResourceAsStream("/graft/countries.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows = try src.getLines().drop(1).toList finally src.close()
    rows.map(_.split('\t')).map(a => (a(0), GeoCodec.decodeShapes(GeoCodec.encode(Wkt.read(a(2))))))
  }
  private lazy val zoneShapes = in.zoneWkt.map(w => GeoCodec.decodeShapes(GeoCodec.encode(Wkt.read(w))))

  private def pairsById(rows: Array[Row]): Map[Long, Set[String]] =
    rows.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.get(1).toString).toSet }

  private def checkIntersects(rows: Array[Row]): Option[String] = {
    val got = pairsById(rows)
    val bad = sampleIds.find { i =>
      val want = countryShapes.collect { case (n, sh) if Relate.intersects(sh, ptShapes(i)) => n }.toSet
      got.getOrElse(i.toLong, Set.empty) != want
    }
    Workloads.ok(bad.isEmpty, s"point ${bad.getOrElse(-1)}: country set differs from the kernel oracle")
  }

  private def checkContains(rows: Array[Row]): Option[String] = {
    val got = pairsById(rows)
    val bad = sampleIds.find { i =>
      val p = ptShapes(i)
      val want = zoneShapes.indices.filter(z => Relate.contains(zoneShapes(z), p)).map(_.toString).toSet
      got.getOrElse(i.toLong, Set.empty) != want
    }
    Workloads.ok(bad.isEmpty, s"point ${bad.getOrElse(-1)}: zone set differs from the kernel oracle")
  }

  private def checkDwithin(rows: Array[Row]): Option[String] = {
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val subIds = in.ids.indices.filter(_ % sizes.dwithinEvery == 0)
    val probes = sampleIds.map(i => i - i % sizes.dwithinEvery).distinct
    val bad = probes.find { a =>
      subIds.exists { b =>
        if (a == b) false
        else {
          val d = Gen.haversineM(in.lon(a), in.lat(a), in.lon(b), in.lat(b))
          val (x, y) = if (a < b) (a.toLong, b.toLong) else (b.toLong, a.toLong)
          math.abs(d - dwithinM) > 0.01 && (d <= dwithinM) != got.contains((x, y))
        }
      }
    }
    Workloads.ok(bad.isEmpty, s"point ${bad.getOrElse(-1)}: dwithin pairs differ from haversine")
  }

  private def checkKnn(rounds: Boolean)(rows: Array[Row]): Option[String] = {
    val got = rows.groupBy(_.getLong(0)).map { case (k, v) => k -> v.sortBy(_.getInt(2)).map(_.getDouble(3)) }
    val n = if (rounds) nRounds else nBrute
    val targets = in.ids.indices.filter(isTarget)
    val qs = in.ids.indices.filter(i => if (rounds) isRoundsQ(i) else isBruteQ(i)).take(60)
    val bad = qs.find { q =>
      val want = targets.map(t => Gen.haversineM(in.lon(q), in.lat(q), in.lon(t), in.lat(t))).sorted.take(knnK)
      val g = got.getOrElse(q.toLong, Array.empty[Double])
      g.length != want.length || g.zip(want).exists { case (a, b) => math.abs(a - b) > 0.01 }
    }
    Workloads.ok(bad.isEmpty && got.size == n, s"knn query ${bad.getOrElse(-1)}: distances differ from haversine (or ${got.size} != $n)")
  }

  val queries: Seq[Q] = Seq(
    Q("sql_intersects", "join", sizes.points + 177L,
      s => s.sql("SELECT p.id, c.name FROM pts p JOIN countries c ON s2_intersects(c.geog, p.geog)"),
      checkIntersects),
    Q("shuffled_intersects", "join", sizes.points + 177L,
      s => S2Join.intersects(pts(s), "geog", countries(s).withColumnRenamed("geog", "cgeog"), "cgeog")
        .select("id", "name"),
      checkIntersects, traceOnly = true),
    Q("broadcast_intersects", "join", sizes.points + 177L,
      s => S2Join.broadcastIntersects(countries(s).withColumnRenamed("geog", "cgeog"), "cgeog", pts(s), "geog")
        .select("id", "name"),
      checkIntersects),
    Q("zones_contains", "join", sizes.points + sizes.zones.toLong,
      s => S2Join.contains(s.table("zones"), "geog", pts(s).withColumnRenamed("geog", "pgeog"), "pgeog")
        .select(col("id"), col("zid")),
      checkContains),
    Q("dwithin", "join", 2L * sizes.points / sizes.dwithinEvery,
      s => S2Join.dwithin(sub(s).select("id", "geog"), "geog",
        sub(s).select(col("id").as("id2"), col("geog").as("geog2")), "geog2", dwithinM,
        Some(col("id") < col("id2"))).select("id", "id2"),
      checkDwithin),
    Q("knn_brute", "join", nBrute.toLong + nTargets,
      s => KnnJoin.knn(knnQueries(s, rounds = false), "qid", "geog", knnTargets(s), "tid", "tgeog", knnK)
        .select("qid", "nbr_id", "rank", "dist_m"),
      checkKnn(rounds = false), traceOnly = true),
    Q("knn_rounds", "join", nRounds.toLong + nTargets,
      s => KnnJoin.knn(knnQueries(s, rounds = true), "qid", "geog", knnTargets(s), "tid", "tgeog", knnK)
        .select("qid", "nbr_id", "rank", "dist_m"),
      checkKnn(rounds = true), traceOnly = true))

  /** Pair-set equality across the three intersects paths is checked by
    * the runner through their fingerprints (same projection, same rows). */
  val sameResult: Seq[String] = Seq("sql_intersects", "shuffled_intersects", "broadcast_intersects")

  override def gates(spark: SparkSession, plans: Map[String, DataFrame]): Seq[Map[String, Any]] = {
    def knnGate(q: String, n: Int) = plans.get(q).map { df =>
      val rounds = PlanStats.inMemoryScans(df) > 0
      Map("gate" -> "knn_brute_vs_rounds", "query" -> q, "choice" -> (if (rounds) "rounds" else "brute"),
        "stat" -> s"pairs=${n.toLong * nTargets}", "threshold" -> "2000000 pairs (left <= 100000)")
    }
    Seq(
      Map("gate" -> "shape_cache_fit", "query" -> "sql_intersects", "choice" -> "fits",
        "stat" -> "177 distinct country shapes", "threshold" -> ShapeCacheCap, "source" -> "input property"),
      Map("gate" -> "shape_cache_fit", "query" -> "zones_contains",
        "choice" -> (if (sizes.zones > ShapeCacheCap) "overflows" else "fits"),
        "stat" -> s"${sizes.zones} distinct zone shapes", "threshold" -> ShapeCacheCap, "source" -> "input property")) ++
      knnGate("knn_brute", nBrute) ++ knnGate("knn_rounds", nRounds)
  }

  /** The cover-then-refine joins: candidates are the pairs meeting on a
    * cell of the covering level the executed plan used. */
  override def refineYield(spark: SparkSession, plans: Map[String, DataFrame], fps: Map[String, Fp]): Double = {
    val level = "s2_covering_fixed_level\\([^()]*(?:\\([^()]*\\))?[^()]*, (\\d+)\\)".r
    def cells(df: DataFrame, lv: Int) =
      df.select(explode(call_function("s2_covering_fixed_level", col("geog"), lit(lv))).as("c")).groupBy("c").count()
    val counted = for {
      (q, right) <- Seq("sql_intersects" -> countries(spark), "broadcast_intersects" -> countries(spark),
        "zones_contains" -> spark.table("zones"))
      plan <- plans.get(q)
      lv <- level.findFirstMatchIn(plan.queryExecution.executedPlan.toString).map(_.group(1).toInt)
      fp <- fps.get(q)
    } yield {
      val cand = cells(pts(spark), lv).as("a").join(cells(right, lv).as("b"), "c")
        .agg(sum(col("a.count") * col("b.count"))).collect()(0).getLong(0)
      (fp.rows, cand)
    }
    if (counted.isEmpty) 0.0 else counted.map(_._1).sum.toDouble / math.max(1L, counted.map(_._2).sum)
  }

  def sample = Workloads.defaultSample(seed)
}

// ---------------------------------------------------------------- geo_ingest

final class IngestW(seed: Long, toy: Boolean) extends Workload {
  val name = "geo_ingest"
  val n = if (toy) 2000 else 10000
  lazy val (rows, digest) = Gen.ingest(seed, n)
  private var dir: File = _
  def outPath = s"$dir/geoparquet_out"

  def describe: Map[String, Any] = {
    val lines = rows.filter(_.kind == 1).map(_.nPoints)
    val polys = rows.filter(_.kind == 2).map(_.nPoints)
    def q(a: Array[Int]) = if (a.isEmpty) Map.empty[String, Any] else {
      val s = a.sorted; Map("min" -> s.head, "p50" -> s(s.length / 2), "p90" -> s(s.length * 9 / 10), "max" -> s.last)
    }
    Map("digest" -> digest, "sizes" -> Map("rows" -> n),
      "properties" -> Map(
        "point_share" -> rows.count(_.kind == 0).toDouble / n,
        "line_share" -> lines.length.toDouble / n,
        "polygon_share" -> polys.length.toDouble / n,
        "line_vertices" -> q(lines), "polygon_vertices" -> q(polys),
        "wkt_bytes" -> wktBytes))
  }
  lazy val wktBytes: Long = rows.map(_.wkt.getBytes("UTF-8").length.toLong).sum

  def generate(spark: SparkSession, d: File): Unit = {
    import spark.implicits._
    dir = d
    spark.sparkContext.parallelize(rows.toSeq.map(r => (r.id, r.kind, r.wkt, r.minLon, r.minLat)), 8)
      .toDF("id", "kind", "wkt", "lon", "lat").write.parquet(s"$d/wkt")
  }

  @volatile private var session: SparkSession = _
  def open(spark: SparkSession, d: File): Unit = {
    dir = d; session = spark
    spark.read.parquet(s"$d/wkt").createOrReplaceTempView("wkt_in")
  }

  private lazy val totalPoints = rows.map(_.nPoints.toLong).sum
  private lazy val byId = rows.map(r => r.id -> r).toMap

  private def checkAccessors(rs: Array[Row]): Option[String] = {
    // columns: id, area, length, num_points, n_cover, token
    val bad = rs.find { r =>
      val g = byId(r.getLong(0))
      val tok = S2CellId.toToken(S2CellId.fromLonLatDegrees(g.minLon, g.minLat))
      r.getInt(3) != g.nPoints || r.getString(5) != tok ||
        (g.kind == 2 && !(r.getDouble(1) > 0)) || (g.kind != 2 && r.getDouble(1) != 0.0) ||
        (g.kind == 1 && !(r.getDouble(2) > 0)) || r.getInt(4) < 1
    }
    Workloads.ok(rs.length == n && bad.isEmpty && rs.map(_.getInt(3).toLong).sum == totalPoints,
      s"accessor mismatch at ${bad.map(_.getLong(0))} (rows ${rs.length}/$n)")
  }

  /** Envelope of the generated vertices; the geodesic box may bulge past
    * it in latitude by a little, never by a degree at these sizes. */
  private lazy val envelope = (rows.map(_.minLon).min, rows.map(_.minLat).min,
    rows.map(_.maxLon).max, rows.map(_.maxLat).max)

  private def checkBox(expectRows: Long)(rs: Array[Row]): Option[String] = {
    val r = rs(0)
    val b = r.getStruct(1)
    val (x0, y0, x1, y1) = (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val (ex0, ey0, ex1, ey1) = envelope
    // a spherical box union may wrap to the full longitude range; it must
    // still contain the envelope, and latitude must stay tight
    val fullLon = x0 == -180.0 && x1 == 180.0
    val inside = (fullLon || (x0 <= ex0 + 1e-9 && x1 >= ex1 - 1e-9)) && y0 <= ey0 + 1e-9 && y1 >= ey1 - 1e-9
    val tight = (fullLon || (ex0 - x0 < 1 && x1 - ex1 < 1)) && ey0 - y0 < 1 && y1 - ey1 < 1
    Workloads.ok(r.getLong(0) == expectRows && inside && tight,
      s"round trip: ${r.getLong(0)} rows, box ($x0,$y0,$x1,$y1) vs envelope $envelope")
  }

  /** Write, then read back: count and box of the stored geometries. */
  private def roundTripRun(df: DataFrame): Fp = {
    GeoParquet.writeGeoParquet(df, outPath, "geometry")
    val b = readBox(df.sparkSession, outPath).collect()(0)
    val box = b.getStruct(1)
    Fp(b.getLong(0), (0 until 4).map(i => java.lang.Double.doubleToLongBits(box.getDouble(i))).reduce(_ * 31 + _))
  }

  private def readBox(s: SparkSession, path: String) =
    GeoParquet.readGeoParquet(s, path)
      .selectExpr("count(1) AS n", "s2_bounds_box_agg(s2_geogfromwkb(geometry)) AS box")

  val queries: Seq[Q] = Seq(
    Q("parse_accessors", "expr", n.toLong,
      s => s.sql("""SELECT id, s2_area(g) AS area, s2_length(g) AS len, s2_num_points(g) AS np,
                   | size(s2_covering(g)) AS ncov, s2_cell_token(s2_cellfromlonlat(lon, lat)) AS tok
                   |FROM (SELECT id, lon, lat, s2_geogfromtext(wkt) AS g FROM wkt_in)""".stripMargin),
      checkAccessors),
    Q("prepare_polygons", "expr", n.toLong,
      s => s.sql("SELECT id, s2_prepare(s2_geogfromtext(wkt)) AS p FROM wkt_in WHERE kind = 2"),
      rs => Workloads.ok(rs.length == rows.count(_.kind == 2) &&
        rs.forall(r => { val b = r.getAs[Array[Byte]](1); b.length < 64 || GeoCodec.isPrepared(b) }),
        "prepared blobs missing or not prepared")),
    Q("geoparquet_roundtrip", "expr", 2L * n,
      s => s.sql("SELECT id, s2_aswkb(s2_geogfromtext(wkt)) AS geometry FROM wkt_in"),
      _ => roundTrip(session), Some(roundTripRun)))

  /** The written output must read back to the input count and box. */
  def roundTrip(spark: SparkSession): Option[String] =
    checkBox(n.toLong)(readBox(spark, outPath).collect()).orElse(
      Workloads.ok(GeoParquet.readGeoMetadata(spark, outPath).isDefined, "GeoParquet footer metadata missing"))

  override def extraLayer(spark: SparkSession): Map[String, Double] = {
    val files = Option(new File(outPath).listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
    Map("ingest.stored_bytes_ratio" -> files.map(_.length).sum.toDouble / wktBytes)
  }

  def sample = {
    val g = Workloads.defaultSample(seed)
    (rows.map(_.minLon), rows.map(_.minLat), rows.map(_.wkt), g._4)
  }
}

// ---------------------------------------------------------------- relational

final class RelationalW(seed: Long, data: String) extends Workload {
  val name = "relational"
  /** The rows behind Queries' size/layout dispatchers run every pass; the
    * other relational rows run once per traced run. */
  val names = Seq("b_tpch_q1", "b_tpch_q3", "b_tpch_q4", "b_tpch_q5", "b_tpch_q12",
    "b_events_funnel", "b_events_hourly")
  val onceNames = Seq("b_events_sessions", "b_events_json", "b_events_asof", "b_top_order", "b_interval_join")
  private val reads = Map(
    "b_tpch_q1" -> Seq("lineitem"), "b_tpch_q3" -> Seq("customer", "orders", "lineitem"),
    "b_tpch_q4" -> Seq("orders", "lineitem"), "b_tpch_q5" -> Seq("lineitem", "supplier", "nation", "region"),
    "b_tpch_q12" -> Seq("lineitem", "orders"), "b_top_order" -> Seq("orders"),
    "b_interval_join" -> Seq("events", "part")).withDefaultValue(Seq("events"))
  private lazy val counts: Map[String, Long] = {
    val f = new File(s"$data/_counts.json")
    val txt = scala.io.Source.fromFile(f).mkString
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
  def describe: Map[String, Any] = Map("sizes" -> counts, "properties" -> Map("data_dir" -> new File(data).getName))
  /** These rows are bound by driver-side planning, whose JIT keeps
    * settling for several passes (pass medians fell 0.45 -> 0.38 s over
    * passes 2-4 in one 40 s run), so three passes warm up. */
  override val warmupPasses = 3
  def generate(spark: SparkSession, dir: File): Unit = ()
  def open(spark: SparkSession, dir: File): Unit = Queries.prep(spark, data)
  private val entries = Queries.all.map(e => e._1 -> e).toMap
  val oracleSql: Map[String, String] = (names ++ onceNames).map(n => n -> entries(n)._3.get).toMap
  val queries: Seq[Q] = (names ++ onceNames).map { n =>
    Q(n, "queries", reads(n).map(counts).sum, s => entries(n)._2(s, data), _ => None,
      traceOnly = onceNames.contains(n))
  }
  def sample = Workloads.defaultSample(seed)
}

// --------------------------------------------------------------------- dedup

final class DedupW(seed: Long, toy: Boolean) extends Workload {
  val name = "dedup"
  val (docs, family, evS, evL) = if (toy) (1500, 0, 40, 200) else (3000, 4300, 200, 1500)
  lazy val in = Gen.dedup(seed, docs, family, evS, evL)
  val ngram = 8
  private val FamilyBase = 2000000L // Gen.dedup numbers the family from here

  def describe: Map[String, Any] = Map(
    "digest" -> in.digest,
    "sizes" -> Map("clean_docs" -> in.clean.ids.length, "hot_docs" -> in.hot.ids.length,
      "eval_small" -> evS, "eval_large" -> evL),
    "properties" -> Map(
      "clean_exact_dup_share" -> in.clean.exactDupDocs.toDouble / docs,
      "clean_near_dup_share" -> in.clean.nearDupDocs.toDouble / docs,
      "hot_family_size" -> family, "hot_bucket_cap" -> Dedup.DefaultHotBucket,
      "hot_family_vs_cap" -> s"$family ${if (family > Dedup.DefaultHotBucket) ">" else "<="} ${Dedup.DefaultHotBucket}",
      "planted_contaminated_docs" -> in.planted.length))

  def generate(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    def w(c: Gen.Corpus) = spark.sparkContext.parallelize(c.ids.indices.map(i => (c.ids(i), c.texts(i))), 8)
      .toDF("id", "text").write.parquet(s"$dir/${c.name}")
    w(in.clean); w(in.hot)
    in.evalSmall.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("id", "text")
      .coalesce(1).write.parquet(s"$dir/eval_small")
  }

  def open(spark: SparkSession, dir: File): Unit = {
    spark.read.parquet(s"$dir/clean").createOrReplaceTempView("clean")
    spark.read.parquet(s"$dir/hot").createOrReplaceTempView("hot")
    spark.read.parquet(s"$dir/eval_small").createOrReplaceTempView("eval_small")
  }

  /** The large eval suite arrives as an RDD-backed frame: no size
    * estimate, so the Bloom build cannot treat it as small. */
  private def evalLarge(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(in.evalLarge.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq, 4)
      .toDF("id", "text")
  }

  private def words(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
  private lazy val textOf: Map[Long, String] =
    (in.clean.ids.zip(in.clean.texts) ++ in.hot.ids.zip(in.hot.texts)).toMap

  private def exactPairs(c: Gen.Corpus): Set[(Long, Long)] =
    c.ids.zip(c.texts).groupBy(_._2).values.filter(_.length > 1).flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet

  private def checkCandidates(c: Gen.Corpus)(rs: Array[Row]): Option[String] = {
    val got = rs.map(r => (r.getLong(0), r.getLong(1)))
    val set = got.toSet
    val missing = exactPairs(c).find(p => !set.contains(p))
    Workloads.ok(got.forall(p => p._1 < p._2) && set.size == got.length && missing.isEmpty,
      s"candidate pairs: ordering/duplicates or missing exact-dup pair $missing")
  }

  private def checkVerified(c: Gen.Corpus)(rs: Array[Row]): Option[String] = {
    val r = new java.util.SplittableRandom(seed + 99)
    val sample = if (rs.length <= 400) rs else Array.fill(400)(rs(r.nextInt(rs.length)))
    val bad = sample.find { row =>
      val a = words(textOf(row.getLong(0))).toSet; val b = words(textOf(row.getLong(1))).toSet
      val inter = (a & b).size.toLong; val uni = (a | b).size.toLong
      inter != row.getLong(2) || uni != row.getLong(3) || inter * 1000 < 700 * uni
    }
    val set = rs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = exactPairs(c).find(p => !set.contains(p))
    Workloads.ok(bad.isEmpty && missing.isEmpty, s"verified pair ${bad.map(r => (r.getLong(0), r.getLong(1)))} " +
      s"disagrees with exact Jaccard, or exact-dup pair $missing missing")
  }

  /** dedupByPairs keeps the minimum id of every connected component. */
  private def checkDedup(rs: Array[Row]): Option[String] = {
    val pairs = verifiedClean
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val dropped = pairs.flatMap(p => Seq(p._1, p._2)).filter(x => find(x) != x).toSet
    val want = in.clean.ids.filterNot(dropped).toSet
    val got = rs.map(_.getLong(0)).toSet
    Workloads.ok(got == want && rs.length == want.size, s"kept ${got.size} docs, expected ${want.size}")
  }
  @volatile private var verifiedClean: Seq[(Long, Long)] = Nil

  private def grams(t: String): Iterator[String] = words(t).sliding(ngram).filter(_.length == ngram).map(_.mkString(" "))
  private def checkBloom(ev: Array[String])(rs: Array[Row]): Option[String] = {
    val evGrams = ev.iterator.flatMap(grams).toSet
    val exact = in.clean.ids.indices.filter(i => grams(in.clean.texts(i)).exists(evGrams)).map(i => in.clean.ids(i)).toSet
    val got = rs.map(_.getLong(0)).toSet
    // Bloom positives are a superset; auto-sized bitsets keep the per-gram
    // false-positive rate under 1e-4, i.e. well under 2% of docs here
    Workloads.ok(exact.subsetOf(got) && got.size <= exact.size + docs / 50 + 2,
      s"bloom flagged ${got.size} docs; exact contaminated ${exact.size}, missing ${(exact -- got).take(3)}")
  }

  private def clean(s: SparkSession) = s.table("clean")
  private def hot(s: SparkSession) = s.table("hot")

  val queries: Seq[Q] = Seq(
    Q("clean_minhash", "llm", docs.toLong,
      s => Dedup.minhashCandidatePairs(clean(s), "id", "text"), checkCandidates(in.clean), traceOnly = true),
    Q("clean_verified", "llm", docs.toLong,
      s => Dedup.verifiedNearDupPairs(clean(s), "id", "text"),
      rs => { verifiedClean = rs.map(r => (r.getLong(0), r.getLong(1))).toSeq; checkVerified(in.clean)(rs) }),
    Q("clean_simhash", "llm", docs.toLong,
      s => Dedup.simhashCandidatePairs(clean(s), "id", "text").select("id_a", "id_b"),
      checkCandidates(in.clean)),
    Q("clean_dedup", "llm", docs.toLong,
      s => Dedup.dedupByPairs(clean(s), "id",
        Dedup.verifiedNearDupPairs(clean(s), "id", "text").select("id_a", "id_b")).select("id"),
      checkDedup, traceOnly = true),
    Q("bloom_small_eval", "llm", docs.toLong + evS,
      s => Dedup.bloomDecontam(clean(s), s.table("eval_small"), "id", "text"), checkBloom(in.evalSmall)),
    Q("bloom_large_eval", "llm", docs.toLong + evL,
      s => Dedup.bloomDecontam(clean(s), evalLarge(s), "id", "text"), checkBloom(in.evalLarge), traceOnly = true),
    // the hot family's bucket holds > 4096 reps, so it emits >= 8.4M
    // candidate pairs whatever the code does: too slow for every pass, it
    // runs once per traced run (its branch and timings are per-layer data)
    Q("hot_minhash", "llm", in.hot.ids.length.toLong,
      s => Dedup.minhashCandidatePairs(hot(s), "id", "text")
        .select(when(col("id_a") >= FamilyBase && col("id_b") >= FamilyBase, "family").otherwise("other").as("kind"))
        .groupBy("kind").count(),
      checkHotCandidates, traceOnly = true),
    Q("hot_verified", "llm", in.hot.ids.length.toLong,
      s => Dedup.verifiedNearDupPairs(hot(s), "id", "text"), checkVerified(in.hot), traceOnly = true))

  /** Every family pair shares band 0, so each is a candidate exactly once. */
  private def checkHotCandidates(rs: Array[Row]): Option[String] = {
    val fam = rs.find(_.getString(0) == "family").map(_.getLong(1)).getOrElse(0L)
    val want = family.toLong * (family - 1) / 2
    Workloads.ok(fam == want, s"family candidate pairs $fam != $want")
  }

  /** Checks run in query order; the dedup check reuses the verified pairs. */
  override def gates(spark: SparkSession, plans: Map[String, DataFrame]): Seq[Map[String, Any]] = {
    def salt(q: String) = plans.get(q).map { df =>
      val salted = df.queryExecution.executedPlan.toString.contains("__salt")
      Map("gate" -> "dedup_salted_vs_symmetric", "query" -> q, "choice" -> (if (salted) "salted" else "symmetric"),
        "stat" -> s"max band bucket ${maxBucket(spark, if (q.startsWith("hot")) "hot" else "clean")}",
        "threshold" -> Dedup.DefaultHotBucket)
    }
    def bloom(q: String, ev: DataFrame) =
      Map("gate" -> "bloom_build_path", "query" -> q,
        "choice" -> (if (FanOut.isSmall(ev)) "single_pass" else "distributed"),
        "stat" -> s"eval size estimate ${ev.queryExecution.optimizedPlan.stats.sizeInBytes} B",
        "threshold" -> "spark.graft.fanout.maxBytes (32 MiB)")
    (salt("clean_minhash") ++ salt("hot_minhash")).toSeq ++
      Seq(bloom("bloom_small_eval", spark.table("eval_small")), bloom("bloom_large_eval", evalLarge(spark)))
  }

  private val bucketMemo = mutable.HashMap[String, Long]()
  /** Largest MinHash band bucket of a corpus, counted through the public
    * band-key function. */
  def maxBucket(spark: SparkSession, corpus: String): Long = bucketMemo.getOrElseUpdate(corpus,
    spark.table(corpus)
      .select(posexplode(Dedup.lshBandBuckets(Dedup.minhashSignature(col("text"), 64), 64, 8)).as(Seq("b", "k")))
      .groupBy("b", "k").count().agg(max("count")).collect()(0).getLong(0))

  def sample = Workloads.defaultSample(seed)
}
