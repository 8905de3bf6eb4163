package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GeoCodec, Geography, RegionCoverer, Relate, S2CellId, Wkb, Wkt}
import graft.spark.S2Functions

/** The two bottom layers, timed directly (traced runs only).
  *
  * Kernel (`core.*`): driver thread, JIT-warmed, ns/op — the median of
  * several timed blocks over a seeded sample of the workload's inputs.
  * Expressions (`expr.*`): one projection over a cached frame, consumed by
  * the no-op sink, minus the same frame's identity projection, per row. */
object Micro {
  @volatile private var sink: Long = 0L

  /** ns per op of `f` cycling over `n` inputs: a 150 ms warm-up block,
    * then the median of five 40 ms blocks. */
  private def nsPerOp(n: Int)(f: Int => Long): Double = {
    def block(ms: Long): (Long, Long) = {
      val t0 = System.nanoTime(); val end = t0 + ms * 1000000L
      var ops = 0L; var acc = 0L; var i = 0
      while (System.nanoTime() < end) {
        var k = 0
        while (k < 64) { acc += f(i); i += 1; if (i == n) i = 0; k += 1 }
        ops += 64
      }
      sink += acc
      (System.nanoTime() - t0, ops)
    }
    block(150)
    val per = (0 until 5).map { _ => val (t, ops) = block(40); t.toDouble / ops }.sorted
    per(per.size / 2)
  }

  def core(sample: (Array[Double], Array[Double], Array[String], Array[String])): Map[String, Double] = {
    val (lon, lat, wkts, polyWkts) = sample
    val geogs: Array[Geography] = wkts.map(w => Wkt.read(w))
    val blobs = geogs.map(GeoCodec.encode)
    val wkbs = geogs.map(Wkb.write)
    val cells = lon.indices.map(i => S2CellId.fromLonLatDegrees(lon(i), lat(i))).toArray
    val polyBlobs = polyWkts.map(w => GeoCodec.encode(Wkt.read(w)))
    val polyPrepared = polyBlobs.map(GeoCodec.prepare)
    val ptShapes = lon.indices.map(i => GeoCodec.decodeShapes(S2Functions.geogPoint(lon(i), lat(i)))).toArray
    val shapes = blobs.map(GeoCodec.decodeShapes)
    val np = ptShapes.length; val nq = polyBlobs.length
    Map(
      "core.cell_from_lonlat_ns" -> nsPerOp(lon.length)(i => S2CellId.fromLonLatDegrees(lon(i), lat(i))),
      "core.cell_token_ns" -> nsPerOp(cells.length)(i => S2CellId.toToken(cells(i)).length.toLong),
      "core.wkt_read_ns" -> nsPerOp(wkts.length)(i => Wkt.read(wkts(i)).hashCode.toLong),
      "core.wkb_write_ns" -> nsPerOp(geogs.length)(i => Wkb.write(geogs(i)).length.toLong),
      "core.wkb_read_ns" -> nsPerOp(wkbs.length)(i => Wkb.read(wkbs(i)).hashCode.toLong),
      "core.codec_encode_ns" -> nsPerOp(geogs.length)(i => GeoCodec.encode(geogs(i)).length.toLong),
      "core.codec_prepare_ns" -> nsPerOp(polyBlobs.length)(i => GeoCodec.prepare(polyBlobs(i)).length.toLong),
      "core.codec_decode_ns" -> nsPerOp(blobs.length)(i => GeoCodec.decode(blobs(i)).hashCode.toLong),
      "core.cover_fixed_ns" -> nsPerOp(geogs.length)(i => RegionCoverer.coverFixedLevel(geogs(i), 6).length.toLong),
      // decode + test, as a shape-cache miss pays it; prepared blobs reattach
      // their serialized edge index instead of building one
      "core.contains_point_ns" -> nsPerOp(np)(i =>
        if (Relate.contains(GeoCodec.decodeShapes(polyBlobs(i % nq)), ptShapes(i))) 1L else 0L),
      "core.contains_point_prepared_ns" -> nsPerOp(np)(i =>
        if (Relate.contains(GeoCodec.decodeShapes(polyPrepared(i % nq)), ptShapes(i))) 1L else 0L),
      "core.distance_ns" -> nsPerOp(np)(i =>
        Relate.distanceMeters(shapes(i % shapes.length), ptShapes(i)).toLong))
  }

  def expr(spark: SparkSession, sample: (Array[Double], Array[Double], Array[String], Array[String])): Map[String, Double] = {
    import spark.implicits._
    val (lon, lat, wkts, polyWkts) = sample
    val n = math.min(lon.length, wkts.length)
    val rows = (0 until n).map(i => (lon(i), lat(i), wkts(i), polyWkts(i % polyWkts.length)))
    val base = rows.toDF("lon", "lat", "wkt", "pwkt")
      .selectExpr("lon", "lat", "wkt", "s2_geogfromtext(wkt) AS geog", "s2_aswkb(s2_geogfromtext(wkt)) AS wkb",
        "s2_geogpoint(lon, lat) AS pt", "s2_geogfromtext(pwkt) AS poly")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    base.count()
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    def perRow(e: String, input: String*): Double = {
      val ex = base.selectExpr(s"$e AS x")
      val id = base.select(input.map(col): _*)
      time(ex); time(id)
      val d = (0 until 3).map(_ => time(ex) - time(id)).sorted
      d(d.size / 2) / n
    }
    try Map(
      "expr.geogpoint_ns_row" -> perRow("s2_geogpoint(lon, lat)", "lon", "lat"),
      "expr.geogfromtext_ns_row" -> perRow("s2_geogfromtext(wkt)", "wkt"),
      "expr.aswkb_ns_row" -> perRow("s2_aswkb(geog)", "geog"),
      "expr.geogfromwkb_ns_row" -> perRow("s2_geogfromwkb(wkb)", "wkb"),
      "expr.area_ns_row" -> perRow("s2_area(geog)", "geog"),
      "expr.covering_ns_row" -> perRow("s2_covering(geog)", "geog"),
      "expr.cellfromlonlat_ns_row" -> perRow("s2_cellfromlonlat(lon, lat)", "lon", "lat"),
      "expr.contains_ns_row" -> perRow("s2_contains(poly, pt)", "poly", "pt"))
    finally base.unpersist()
  }
}
