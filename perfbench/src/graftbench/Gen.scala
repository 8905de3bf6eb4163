package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Everything here is pure Scala driven by one
  * `SplittableRandom(seed)`, so one seed gives byte-identical inputs, and
  * the digest is taken over a canonical rendering of the records (not the
  * parquet bytes, whose writer metadata is not ours to pin). */
object Gen {
  final val EarthRadiusM = 6371010.0

  /** SHA-256 over a stream of canonical lines. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Bundled city points (lon, lat), read from graft's own resource. */
  lazy val cities: Array[(String, Double, Double)] = {
    val in = getClass.getResourceAsStream("/graft/cities.tsv")
    require(in != null, "graft's cities.tsv resource is not on the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows = try src.getLines().drop(1).toArray finally src.close()
    rows.map { line =>
      val a = line.split('\t')
      val xy = a(2).stripPrefix("POINT (").stripSuffix(")").split(' ')
      (a(0), xy(0).toDouble, xy(1).toDouble)
    }
  }

  /** A point `meters` (Gaussian-ish radius, sigma) around (lon, lat):
    * destination along a random bearing on the sphere. */
  def around(r: SplittableRandom, lon: Double, lat: Double, sigmaM: Double): (Double, Double) = {
    val d = math.abs(gauss(r)) * sigmaM / EarthRadiusM
    dest(lon, lat, r.nextDouble() * 2 * math.Pi, d)
  }

  def dest(lon: Double, lat: Double, bearing: Double, angle: Double): (Double, Double) = {
    val la1 = math.toRadians(lat); val lo1 = math.toRadians(lon)
    val la2 = math.asin(math.sin(la1) * math.cos(angle) +
      math.cos(la1) * math.sin(angle) * math.cos(bearing))
    val lo2 = lo1 + math.atan2(math.sin(bearing) * math.sin(angle) * math.cos(la1),
      math.cos(angle) - math.sin(la1) * math.sin(la2))
    (normLon(math.toDegrees(lo2)), math.toDegrees(la2))
  }

  def normLon(x: Double): Double = { val y = ((x + 180) % 360 + 360) % 360 - 180; y }

  def uniformSphere(r: SplittableRandom): (Double, Double) =
    (r.nextDouble() * 360 - 180, math.toDegrees(math.asin(r.nextDouble() * 2 - 1)))

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller from the seeded stream (java.util.Random.nextGaussian is
    // not on SplittableRandom)
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dp / 2), 2) + math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl / 2), 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Rounded so WKT text and the doubles agree exactly. */
  def r6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Ring of `n` vertices around a center (counter-clockwise, closed),
    * radius jittered per vertex so shapes are not all regular. */
  def ring(r: SplittableRandom, lon: Double, lat: Double, radiusM: Double, n: Int): Seq[(Double, Double)] = {
    val pts = (0 until n).map { i =>
      val bearing = 2 * math.Pi * (n - i) / n // clockwise bearings = CCW on the map
      val rr = radiusM * (0.6 + 0.4 * r.nextDouble())
      val (x, y) = dest(lon, lat, bearing, rr / EarthRadiusM)
      (r6(x), r6(y))
    }
    pts :+ pts.head
  }

  /** Plain decimal text (no exponent form, which WKT does not accept). */
  def fmt(x: Double): String = java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString

  def polygonWkt(ring: Seq[(Double, Double)]): String =
    ring.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString("POLYGON ((", ", ", "))")

  // ------------------------------------------------------------ geo_join

  final case class GeoJoinSizes(points: Int, zones: Int, dwithinEvery: Int)
  final case class GeoJoinInputs(ids: Array[Long], lon: Array[Double], lat: Array[Double],
                                 kind: Array[Byte], zoneWkt: Array[String],
                                 hotCenter: (String, Double, Double), digest: String)

  /** The hot metro is the same city for every seed (Shanghai, the most
    * populous bundled city), so the seed varies the draws, not how much
    * skew a run sees. */
  val HotMetro = "Shanghai"

  /** Points: 20% around the hot metro (sigma 8 km), 50% around the bundled
    * cities (sigma 25 km), 30% uniform on the sphere. Zones: small seeded
    * polygons (6-16 vertices, 2-20 km), a third in the hot metro. */
  def geoJoin(seed: Long, s: GeoJoinSizes): GeoJoinInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val hot = cities.find(_._1 == HotMetro).getOrElse(cities.head)
    val n = s.points
    val lon = new Array[Double](n); val lat = new Array[Double](n)
    val kind = new Array[Byte](n)
    val d = new Digest
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      val (x, y, k) =
        if (u < 0.2) { val p = around(r, hot._2, hot._3, 8000); (p._1, p._2, 0) }
        else if (u < 0.7) {
          val c = cities(r.nextInt(cities.length)); val p = around(r, c._2, c._3, 25000); (p._1, p._2, 1)
        } else { val p = uniformSphere(r); (p._1, p._2, 2) }
      lon(i) = r6(x); lat(i) = r6(y); kind(i) = k.toByte
      d.add(s"p,$i,${lon(i)},${lat(i)},$k")
      i += 1
    }
    val zones = Array.tabulate(s.zones) { z =>
      val (cx, cy) =
        if (z % 3 == 0) around(r, hot._2, hot._3, 15000)
        else { val c = cities(r.nextInt(cities.length)); around(r, c._2, c._3, 30000) }
      val w = polygonWkt(ring(r, cx, cy, 2000 + r.nextDouble() * 18000, 6 + r.nextInt(11)))
      d.add(s"z,$z,$w")
      w
    }
    GeoJoinInputs(Array.tabulate(n)(_.toLong), lon, lat, kind, zones, hot, d.hex)
  }

  // ---------------------------------------------------------- geo_ingest

  final case class IngestRow(id: Long, kind: Int, wkt: String, nPoints: Int,
                             minLon: Double, maxLon: Double, minLat: Double, maxLat: Double)

  /** 60% points, 25% linestrings, 15% polygons; line/polygon vertex counts
    * log-uniform in [4, 64]; shapes stay inside +-170 lon / +-80 lat so
    * no edge crosses the antimeridian or a pole. */
  def ingest(seed: Long, rows: Int): (Array[IngestRow], String) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val d = new Digest
    def logUniform(): Int = math.round(math.exp(math.log(4) + r.nextDouble() * (math.log(64) - math.log(4)))).toInt
    val out = Array.tabulate(rows) { i =>
      val cx = r.nextDouble() * 340 - 170; val cy = r.nextDouble() * 160 - 80
      val u = r.nextDouble()
      val row =
        if (u < 0.6) {
          val x = r6(cx); val y = r6(cy)
          IngestRow(i, 0, s"POINT (${fmt(x)} ${fmt(y)})", 1, x, x, y, y)
        } else if (u < 0.85) {
          val nv = logUniform()
          var x = cx; var y = cy
          val pts = (0 until nv).map { _ =>
            x = math.max(-170, math.min(170, x + (r.nextDouble() - 0.5) * 0.2))
            y = math.max(-80, math.min(80, y + (r.nextDouble() - 0.5) * 0.2))
            (r6(x), r6(y))
          }.distinct
          val ps = if (pts.size >= 2) pts else pts :+ (r6(x + 0.01), r6(y))
          IngestRow(i, 1, ps.map { case (a, b) => s"${fmt(a)} ${fmt(b)}" }.mkString("LINESTRING (", ", ", ")"),
            ps.size, ps.map(_._1).min, ps.map(_._1).max, ps.map(_._2).min, ps.map(_._2).max)
        } else {
          val nv = logUniform()
          val rg = ring(r, cx, cy, 1000 + r.nextDouble() * 30000, math.max(4, nv))
          val open = rg.init
          IngestRow(i, 2, polygonWkt(rg), open.size,
            open.map(_._1).min, open.map(_._1).max, open.map(_._2).min, open.map(_._2).max)
        }
      d.add(s"$i,${row.wkt}")
      row
    }
    (out, d.hex)
  }

  // --------------------------------------------------------------- dedup

  /** Word-set MinHash of one word, the same scheme as graft.llm.Dedup's
    * signature (FNV-1a 64 seed, murmur-finalizer stride): the hot corpus
    * needs to know which words can never become a band-0 minimum. */
  def wordHashes(w: String, numHashes: Int): Array[Long] = {
    var h1 = 0xcbf29ce484222325L
    var i = 0
    while (i < w.length) { h1 ^= w.charAt(i); h1 *= 0x100000001b3L; i += 1 }
    var h2 = h1
    h2 ^= h2 >>> 33; h2 *= 0xff51afd7ed558ccdL
    h2 ^= h2 >>> 33; h2 *= 0xc4ceb9fe1a85ec53L
    h2 ^= h2 >>> 33
    val out = new Array[Long](numHashes)
    var k = 0; var h = h1
    while (k < numHashes) { out(k) = h; h += h2; k += 1 }
    out
  }

  final case class Corpus(name: String, ids: Array[Long], texts: Array[String],
                          exactDupDocs: Int, nearDupDocs: Int)
  final case class DedupInputs(clean: Corpus, hot: Corpus, evalSmall: Array[String],
                               evalLarge: Array[String], planted: Array[Long], digest: String)

  private def word(r: SplittableRandom, vocab: Array[String]): String = {
    // Zipf-ish: squaring the uniform skews draws toward the head
    val u = r.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  private def doc(r: SplittableRandom, vocab: Array[String], len: Int): Array[String] =
    Array.fill(len)(word(r, vocab))

  /** `clean`: random docs plus 10% exact dups and 10% near dups (one or
    * two word edits), no band bucket near the 4096 hot cap. `hot`: the same
    * kind of background plus a template family of `family` docs that all
    * share band 0 of the MinHash signature (a 10-word core whose band-0
    * minima no filler word can undercut) but little else, so verification
    * rejects nearly every candidate the family produces. Eval suites: a
    * small one (parquet-backed) and a large one (handed over with no size
    * estimate), each planting 8-grams into a few training docs. */
  def dedup(seed: Long, docs: Int, family: Int, evalSmall: Int, evalLarge: Int): DedupInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = Array.tabulate(20000)(i => s"w${Integer.toString(i * 7919 + 13, 36)}")
    val dg = new Digest

    def background(n: Int, idBase: Long): (Array[Long], Array[String], Int, Int) = {
      val texts = new Array[String](n)
      var exact = 0; var near = 0
      var i = 0
      while (i < n) {
        val u = r.nextDouble()
        texts(i) =
          if (i > 10 && u < 0.10) { exact += 1; texts(r.nextInt(i)) }
          else if (i > 10 && u < 0.20) {
            near += 1
            val src = texts(r.nextInt(i)).split(' ')
            src(r.nextInt(src.length)) = word(r, vocab)
            if (r.nextBoolean()) src(r.nextInt(src.length)) = word(r, vocab)
            src.mkString(" ")
          } else doc(r, vocab, 30 + r.nextInt(90)).mkString(" ")
        i += 1
      }
      (Array.tabulate(n)(i => idBase + i), texts, exact, near)
    }

    val (cIds, cTexts, cEx, cNear) = background(docs, 0L)
    val clean = Corpus("clean", cIds, cTexts, cEx, cNear)

    val bg = math.max(0, docs - family)
    val (hIds0, hTexts0, hEx, hNear) = background(bg, 1000000L)
    val core = Array.tabulate(10)(i => s"tmpl${seed & 0xffff}x$i")
    val coreMin = Array.fill(8)(Long.MaxValue)
    core.foreach { w => val h = wordHashes(w, 64); var k = 0; while (k < 8) { coreMin(k) = math.min(coreMin(k), h(k)); k += 1 } }
    val safe = vocab.filter { w => val h = wordHashes(w, 64); (0 until 8).forall(k => h(k) > coreMin(k)) }
    val famTexts = Array.fill(family) {
      val filler = Array.fill(6)(safe(r.nextInt(safe.length)))
      (core ++ filler).mkString(" ")
    }
    val hIds = hIds0 ++ Array.tabulate(family)(i => 2000000L + i)
    val hot = Corpus("hot", hIds, hTexts0 ++ famTexts, hEx, hNear)

    // eval suites: 8-gram-bearing snippets; the first few are planted into
    // clean training docs (appended, so those docs gain every eval gram)
    def evalSet(n: Int): Array[String] = Array.fill(n)(doc(r, vocab, 40 + r.nextInt(40)).mkString(" "))
    val evS = evalSet(evalSmall)
    val evL = evalSet(evalLarge)
    val planted = (0 until 20).map(_ => r.nextInt(docs).toLong).distinct.toArray.sorted
    planted.zipWithIndex.foreach { case (id, j) =>
      val ev = if (j % 2 == 0) evS(j % evS.length) else evL(j % evL.length)
      clean.texts(id.toInt) = clean.texts(id.toInt) + " " + ev
    }
    Seq(clean, hot).foreach(c => c.ids.indices.foreach(i => dg.add(s"${c.name},${c.ids(i)},${c.texts(i)}")))
    evS.foreach(t => dg.add(s"es,$t")); evL.foreach(t => dg.add(s"el,$t"))
    DedupInputs(clean, hot, evS, evL, planted, dg.hex)
  }
}
