package graft.raster

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cube.ChunkRow

/** GTI-style raster tile index — mosaic manifest sink + scan + assembly
  * (SURVEY §2.1 S3/S7; reference `build_recommended_gti` /
  * `build_gti_xarray`, flytemosaic/mosaics.py:20-113,116-175).
  *
  * The reference's contract has three parts, re-expressed Spark-first:
  *
  *  1. SINK — the tile index is a TABLE (one row per COG: VSI location,
  *     bounds, optional time) plus mosaic-level metadata (dtype, nodata,
  *     bounds, res, band count, resampling, srs) carried IN the index so
  *     readers never probe the tile files. Here: a parquet manifest (our
  *     FlatGeobuf stand-in — columnar, predicate-prunable) + `gti.json`
  *     sidecar, locations rewritten through Urls.gdalVsiLocation (F1).
  *  2. SCAN — opening the mosaic reads ONLY the manifest: `readMeta`
  *     touches the sidecar, `readIndex` the parquet; envelope pruning is a
  *     plain pushed-down bounds predicate on the index table.
  *  3. ASSEMBLY (the reference delegates this to GDAL's GTI driver) —
  *     `assemble` materializes target chunks in parallel: one task per
  *     chunk overlays every intersecting tile IN MANIFEST ORDER, so the
  *     LAST valid pixel wins (mosaics.py:46 "the last pixel will be used
  *     for overlapping pixels"; nodata never overwrites), resampling each
  *     file from its OWN affine grid (tiepoint/scale tags) to the target
  *     grid by nearest-neighbor — per-file grids may differ in resolution
  *     and origin. Files whose grid lives in a DIFFERENT CRS are warped
  *     through a PointWarp — affine transforms, the built-in
  *     EPSG:4326↔3857 (Web Mercator) pair, and WGS84 UTM zones
  *     (EPSG:326xx/327xx, coupled transverse Mercator with grid
  *     convergence) — covering the common cases of the reference's GDAL
  *     warp (mosaics.py:44-50); other projections fail fast unless a
  *     custom PointWarp is registered.
  *
  * Scale shape: the manifest stays a DataFrame end to end — each tile row
  * explodes to the chunk keys its envelope covers and equi-joins
  * (cogroup) against the target chunk grid, so a million-tile index never
  * passes through the driver and each chunk task sees exactly its own
  * tiles, already grouped. Tile decodes go through a per-JVM LRU so a
  * file overlapping many chunks in one task is read and decoded once.
  */
object GtiMosaic {

  final case class Meta(
      dataType: String, nodata: Double,
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      resx: Double, resy: Double, bandCount: Int,
      resampling: String, srs: String) {
    def nX: Int = math.round((maxx - minx) / resx).toInt
    def nY: Int = math.round((maxy - miny) / resy).toInt
  }

  private def metaJson(m: Meta): String =
    s"""{"DATA_TYPE":"${m.dataType}","NODATA":"${if (m.nodata.isNaN) "NaN" else m.nodata}",""" +
      s""""MINX":${m.minx},"MINY":${m.miny},"MAXX":${m.maxx},"MAXY":${m.maxy},""" +
      s""""RESX":${m.resx},"RESY":${m.resy},"BAND_COUNT":${m.bandCount},""" +
      s""""RESAMPLING":"${m.resampling}","SRS":"${m.srs}"}"""

  /** S7 sink: `index` must carry (location, minx, miny, maxx, maxy) and
    * may carry time; locations are VSI-rewritten on write (F1). Row order
    * is the overlap precedence, so it is made explicit as `seq`.
    *
    * Two index artifacts are written: the parquet table (what `readIndex`
    * / `assemble` scan — columnar, predicate-prunable) and `index.fgb`, a
    * spec-layout FlatGeobuf twin — the format GDAL's GTI driver consumes
    * (the reference writes its index as FlatGeobuf, mosaics.py:77-113).
    * The fgb export streams through `toLocalIterator` ordered by seq, so
    * the driver holds one partition at a time, never the whole manifest. */
  def write(index: DataFrame, dst: String, meta: Meta): Unit = {
    require(meta.bandCount > 0 && meta.resx > 0 && meta.resy > 0)
    val withSeq = index
      .withColumn("seq", monotonically_increasing_id())
      .withColumn("location", graft.model.Urls.gdalVsiLocation(col("location")))
    withSeq.write.mode("overwrite").parquet(dst + "/index")
    Files.writeString(Paths.get(dst, "gti.json"), metaJson(meta))
    val hasTime = withSeq.columns.contains("time")
    val cols = Seq(
      FlatGeobuf.Col("location", FlatGeobuf.ColType.String),
      FlatGeobuf.Col("seq", FlatGeobuf.ColType.Long)) ++
      (if (hasTime) Seq(FlatGeobuf.Col("time", FlatGeobuf.ColType.String)) else Nil)
    val projected = withSeq.select(
      Seq(col("location"), col("seq"), col("minx"), col("miny"),
        col("maxx"), col("maxy")) ++
      (if (hasTime) Seq(col("time").cast("string")) else Nil): _*)
      .orderBy("seq")
    val epsg = meta.srs.trim.toUpperCase match {
      case s if s.startsWith("EPSG:") => s.drop(5).toInt
      case _ => 0
    }
    // One plan execution total: cache the ordered manifest so the
    // features_count pre-count and the streamed feature pass read the same
    // materialization (two independent runs could disagree and trip the
    // writer's post-stream require after bytes were already written).
    // The fgb goes to a temp name and renames on success, so a failed
    // export can never leave a partial index.fgb beside the parquet index.
    val cached = projected.cache()
    try {
      val tmp = Paths.get(dst, "index.fgb.tmp")
      FlatGeobuf.write(tmp.toString, "index",
        (meta.minx, meta.miny, meta.maxx, meta.maxy), cols,
        cached.toLocalIterator().asScala.map { r =>
          FlatGeobuf.Feature(r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5),
            Seq[Any](r.getString(0), r.getLong(1)) ++
              (if (hasTime) Seq[Any](r.getString(6)) else Nil))
        }, epsg, count = cached.count(),
        // GDAL's GTI driver reads mosaic metadata from the FlatGeobuf
        // header itself (reference embeds it via ogr2ogr layer metadata,
        // mosaics.py:80-113) — embed the same JSON as the sidecar so an
        // external reader needs no side files
        metadata = Some(metaJson(meta)))
      Files.move(tmp, Paths.get(dst, "index.fgb"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally cached.unpersist()
  }

  /** S3 scan, metadata half: sidecar only — no tile file is opened.
    * Falls back to the metadata embedded in the FlatGeobuf header when no
    * sidecar exists (an externally-produced GTI carries it there). */
  def readMeta(dst: String): Meta = {
    val sidecar = Paths.get(dst, "gti.json")
    val s =
      if (Files.exists(sidecar)) Files.readString(sidecar)
      else FlatGeobuf.readFile(dst + "/index.fgb")._1.metadata.getOrElse(
        throw new IllegalArgumentException(
          s"$dst has neither gti.json nor FlatGeobuf header metadata"))
    parseMetaJson(s)
  }

  /** Real tokenizing parse (graft.model.Json) — robust against lowercase
    * exponents and key-like substrings inside string values, which the
    * previous string-splitting reader mis-read on external sidecars. */
  private[graft] def parseMetaJson(s: String): Meta = {
    val m = graft.model.Json.parseObject(s)
    def str(k: String): String = m(k).asInstanceOf[String]
    def num(k: String): Double = m(k) match {
      case d: Double => d
      case v: String => v.toDouble // external writers quote numerics freely
      case other => throw new IllegalArgumentException(s"$k: $other")
    }
    val nodata = { val v = str("NODATA"); if (v.equalsIgnoreCase("nan")) Double.NaN else v.toDouble }
    Meta(str("DATA_TYPE"), nodata, num("MINX"), num("MINY"), num("MAXX"),
      num("MAXY"), num("RESX"), num("RESY"), num("BAND_COUNT").toInt,
      str("RESAMPLING"), str("SRS"))
  }

  /** S3 scan, index half: envelope pruning = a pushed-down predicate. */
  def readIndex(spark: SparkSession, dst: String,
                env: Option[(Double, Double, Double, Double)] = None): DataFrame = {
    val idx = spark.read.parquet(dst + "/index")
    env.fold(idx) { case (x0, y0, x1, y1) =>
      idx.filter(col("minx") < x1 && col("maxx") > x0 &&
        col("miny") < y1 && col("maxy") > y0)
    }
  }

  /** CRS bridge: maps a MOSAIC coordinate to FILE-grid coordinates.
    * Implementations must be locally monotone-ish (average-resampling
    * footprints take the axis-aligned bbox of the four transformed cell
    * corners — the standard conservative footprint under rotation, e.g.
    * UTM grid convergence). Unregistered CRS pairs without a built-in
    * (GridWarp.standard) make `assemble` fail fast, mirroring where the
    * reference hands everything to GDAL (mosaics.py:44-50). */
  trait PointWarp extends Serializable {
    def toFile(x: Double, y: Double): (Double, Double)
  }

  /** Axis-separable specialization: x depends only on x, y only on y —
    * affine shifts/scalings and the geographic↔Web-Mercator pair (easting
    * is a function of longitude alone, northing of latitude alone). */
  trait GridWarp extends PointWarp {
    def invX(x: Double): Double
    def invY(y: Double): Double
    final override def toFile(x: Double, y: Double): (Double, Double) =
      (invX(x), invY(y))
  }

  /** WGS84 transverse Mercator (UTM) — the COUPLED projection pair
    * (easting/northing both depend on lat AND lon; grid convergence
    * rotates the grid away from north off the central meridian). Series
    * forms from Snyder, *Map Projections — A Working Manual* (USGS PP
    * 1395, 1987), eqs. 8-9…8-25; centimeter-level inside a zone. */
  object TransverseMercator {
    private val A = 6378137.0 // WGS84 semi-major
    private val F = 1.0 / 298.257223563
    private val E2 = F * (2 - F)
    private val Ep2 = E2 / (1 - E2)
    private val K0 = 0.9996
    private val FalseE = 500000.0
    private val FalseNSouth = 10000000.0

    def centralMeridian(zone: Int): Double = -183.0 + 6.0 * zone

    /** General-parameter forward (lon/lat degrees → easting/northing
      * meters): arbitrary origin, central meridian, scale factor and
      * false offsets — the `+proj=tmerc` form. The UTM entry points are
      * the (lat0=0, k0=0.9996, x0=500km) specialization. */
    def forwardGeneral(lat0: Double, lon0: Double, k0: Double,
        x0: Double, y0: Double, lonDeg: Double, latDeg: Double)
        : (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val dLam = math.toRadians(lonDeg - lon0)
      val sinP = math.sin(phi); val cosP = math.cos(phi); val tanP = math.tan(phi)
      val n = A / math.sqrt(1 - E2 * sinP * sinP)
      val t = tanP * tanP
      val c = Ep2 * cosP * cosP
      val a1 = dLam * cosP
      val m = meridianArc(latDeg) - meridianArc(lat0)
      val e = x0 + k0 * n * (a1 +
        (1 - t + c) * a1 * a1 * a1 / 6 +
        (5 - 18 * t + t * t + 72 * c - 58 * Ep2) * math.pow(a1, 5) / 120)
      val n0 = y0 + k0 * (m + n * tanP * (a1 * a1 / 2 +
        (5 - t + 9 * c + 4 * c * c) * math.pow(a1, 4) / 24 +
        (61 - 58 * t + t * t + 600 * c - 330 * Ep2) * math.pow(a1, 6) / 720))
      (e, n0)
    }

    /** General-parameter inverse (easting/northing meters → lon/lat
      * degrees), inverse of [[forwardGeneral]]. */
    def inverseGeneral(lat0: Double, lon0: Double, k0: Double,
        x0: Double, y0: Double, easting: Double, northing: Double)
        : (Double, Double) = {
      val x = easting - x0
      val y = northing - y0
      val m = y / k0 + meridianArc(lat0)
      val mu = m / (A * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256))
      val e1 = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
      val phi1 = mu +
        (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
        (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
        (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
        (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
      val sinP = math.sin(phi1); val cosP = math.cos(phi1); val tanP = math.tan(phi1)
      val c1 = Ep2 * cosP * cosP
      val t1 = tanP * tanP
      val n1 = A / math.sqrt(1 - E2 * sinP * sinP)
      val r1 = A * (1 - E2) / math.pow(1 - E2 * sinP * sinP, 1.5)
      val d = x / (n1 * k0)
      val phi = phi1 - (n1 * tanP / r1) * (d * d / 2 -
        (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * Ep2) * math.pow(d, 4) / 24 +
        (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * Ep2 - 3 * c1 * c1) *
          math.pow(d, 6) / 720)
      val lam = (d - (1 + 2 * t1 + c1) * math.pow(d, 3) / 6 +
        (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * Ep2 + 24 * t1 * t1) *
          math.pow(d, 5) / 120) / cosP
      (lon0 + math.toDegrees(lam), math.toDegrees(phi))
    }

    /** Meridian arc from the equator (Snyder 3-21). */
    def meridianArc(latDeg: Double): Double = {
      val phi = math.toRadians(latDeg)
      A * ((1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256) * phi -
        (3 * E2 / 8 + 3 * E2 * E2 / 32 + 45 * E2 * E2 * E2 / 1024) * math.sin(2 * phi) +
        (15 * E2 * E2 / 256 + 45 * E2 * E2 * E2 / 1024) * math.sin(4 * phi) -
        (35 * E2 * E2 * E2 / 3072) * math.sin(6 * phi))
    }

    /** (lon, lat) degrees → (easting, northing) meters. */
    def forward(zone: Int, south: Boolean, lonDeg: Double, latDeg: Double)
        : (Double, Double) =
      forwardGeneral(0.0, centralMeridian(zone), K0, FalseE,
        if (south) FalseNSouth else 0.0, lonDeg, latDeg)

    /** (easting, northing) meters → (lon, lat) degrees. */
    def inverse(zone: Int, south: Boolean, easting: Double, northing: Double)
        : (Double, Double) =
      inverseGeneral(0.0, centralMeridian(zone), K0, FalseE,
        if (south) FalseNSouth else 0.0, easting, northing)
  }

  /** WGS84 Lambert conformal conic (2 standard parallels) — the other
    * widespread coupled family (national/continental grids: Lambert-93,
    * US state planes, NAD83 LCC zones). Snyder USGS PP 1395 eqs.
    * 15-1…15-11 on the ellipsoid. Parameters vary per CRS, so LCC warps
    * are REGISTERED explicitly (no EPSG auto-resolution): pass
    * `LambertConformal(...).fromGeo` in `warps`. */
  final case class LambertConformal(lat1: Double, lat2: Double,
      lat0: Double, lon0: Double, falseE: Double = 0.0, falseN: Double = 0.0,
      ell: Datum.Ellipsoid = Datum.WGS84) {
    private val a = ell.a
    private val e = ell.e

    private def mFn(phi: Double) =
      math.cos(phi) / math.sqrt(1 - e * e * math.sin(phi) * math.sin(phi))
    private def tFn(phi: Double) =
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)

    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    /** Cone constant (Snyder 15-8) — collapses to sin(p1) when the
      * parallels coincide (tangent cone). */
    val n: Double =
      if (math.abs(lat1 - lat2) < 1e-12) math.sin(p1)
      else math.log(mFn(p1) / mFn(p2)) / math.log(tFn(p1) / tFn(p2))
    private val bigF = mFn(p1) / (n * math.pow(tFn(p1), n))
    private val rho0 = a * bigF * math.pow(tFn(p0), n)

    /** (lon, lat) degrees → projected (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val rho = a * bigF * math.pow(tFn(math.toRadians(latDeg)), n)
      val theta = n * math.toRadians(lonDeg - lon0)
      (falseE + rho * math.sin(theta),
       falseN + rho0 - rho * math.cos(theta))
    }

    /** (easting, northing) meters → (lon, lat) degrees; iterative t→φ
      * inversion (Snyder 7-9), converges in a handful of rounds. */
    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val x = easting - falseE
      val y = rho0 - (northing - falseN)
      val rho = math.signum(n) * math.hypot(x, y)
      val theta = math.atan2(math.signum(n) * x, math.signum(n) * y)
      val t = math.pow(rho / (a * bigF), 1 / n)
      var phi = math.Pi / 2 - 2 * math.atan(t)
      var i = 0
      while (i < 8) {
        phi = math.Pi / 2 - 2 * math.atan(t *
          math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
        i += 1
      }
      (lon0 + math.toDegrees(theta / n), math.toDegrees(phi))
    }

    /** Warp for files gridded in this LCC inside a 4326 mosaic. */
    def fromGeo: PointWarp = new PointWarp {
      def toFile(lon: Double, lat: Double): (Double, Double) = forward(lon, lat)
    }
  }

  /** WGS84/GRS80 Albers equal-area conic (2 standard parallels) — the
    * standard continental-statistics grid family (CONUS Albers, Australian
    * Albers, California Albers). Snyder USGS PP 1395 eqs. 14-1…14-21 /
    * 3-16 on the ellipsoid; equal-area by construction (the property
    * tests check |Jacobian| equals the ellipsoidal area element). */
  final case class AlbersEqualArea(lat1: Double, lat2: Double,
      lat0: Double, lon0: Double, falseE: Double = 0.0, falseN: Double = 0.0,
      ell: Datum.Ellipsoid = Datum.WGS84) {
    private val a = ell.a
    private val e2 = ell.e2
    private val e = ell.e

    private def mFn(phi: Double) =
      math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
    /** Snyder 3-12: q(φ), the equal-area "authalic" ordinate. */
    private def qFn(phi: Double) = {
      val s = math.sin(phi)
      (1 - e2) * (s / (1 - e2 * s * s) -
        (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
    }

    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    /** Cone constant (Snyder 14-14) — sin(p1) for a tangent cone. */
    val n: Double =
      if (math.abs(lat1 - lat2) < 1e-12) math.sin(p1)
      else (mFn(p1) * mFn(p1) - mFn(p2) * mFn(p2)) / (qFn(p2) - qFn(p1))
    private val bigC = mFn(p1) * mFn(p1) + n * qFn(p1)
    private def rhoFn(q: Double) = a * math.sqrt(bigC - n * q) / n
    private val rho0 = rhoFn(qFn(p0))

    /** (lon, lat) degrees → projected (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val rho = rhoFn(qFn(math.toRadians(latDeg)))
      val theta = n * math.toRadians(lonDeg - lon0)
      (falseE + rho * math.sin(theta),
       falseN + rho0 - rho * math.cos(theta))
    }

    /** (easting, northing) meters → (lon, lat) degrees; iterative q→φ
      * inversion (Snyder 3-16). */
    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val x = easting - falseE
      val y = rho0 - (northing - falseN)
      val rho = math.signum(n) * math.hypot(x, y)
      val theta = math.atan2(math.signum(n) * x, math.signum(n) * y)
      val q = (bigC - rho * rho * n * n / (a * a)) / n
      var phi = math.asin(math.max(-1, math.min(1, q / 2)))
      var i = 0
      while (i < 12) {
        val s = math.sin(phi)
        val d = 1 - e2 * s * s
        phi = phi + d * d / (2 * math.cos(phi)) *
          (q / (1 - e2) - s / d +
            (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
        i += 1
      }
      (lon0 + math.toDegrees(theta / n), math.toDegrees(phi))
    }
  }

  /** Spherical sinusoidal — the satellite-product tiling family (MODIS
    * land grid, SR-ORG:6974: authalic sphere R = 6 371 007.181 m). Snyder
    * USGS PP 1395 eqs. 30-1…30-7: x = R·Δλ·cos φ, y = R·φ — equal-area
    * by construction (|Jacobian| = R²·cos φ, property-tested), closed-form
    * in both directions. The reference leans on GDAL for exactly this
    * family when mosaicking MODIS-gridded COGs (mosaics.py:44-50). */
  final case class Sinusoidal(lon0: Double = 0.0,
      radius: Double = Sinusoidal.ModisRadius) {

    /** (lon, lat) degrees → projected (x, y) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      (radius * math.toRadians(lonDeg - lon0) * math.cos(phi), radius * phi)
    }

    /** (x, y) meters → (lon, lat) degrees; closed form. At the poles
      * (cos φ = 0) every x maps to the same point — λ is taken as lon0,
      * matching the forward image x = 0. */
    def inverse(x: Double, y: Double): (Double, Double) = {
      val phi = y / radius
      val c = math.cos(phi)
      val lam = if (math.abs(c) < 1e-14) 0.0 else x / (radius * c)
      (lon0 + math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  object Sinusoidal {
    /** MODIS land-grid sphere radius (authalic; MODIS Land Products
      * Grid specification). */
    val ModisRadius = 6371007.181
  }

  /** WGS84 ELLIPSOIDAL sinusoidal — the authority form of the world
    * sinusoidal CRS (ESRI:54008 et al.; the spherical [[Sinusoidal]]
    * diverges from it by up to ~25 km in northing at mid-latitudes).
    * Snyder USGS PP 1395 §25 on the ellipsoid:
    * x = a·Δλ·cosφ/√(1−e²sin²φ), y = M(φ) (meridian distance, eq. 3-21);
    * inverse φ by the rectifying-series eq. 3-26, λ from eq. 25-19.
    * Equal-area: |Jacobian| = a²(1−e²)cosφ/(1−e²sin²φ)² — the
    * ellipsoidal area element, property-tested like Albers. */
  final case class SinusoidalEllipsoidal(lon0: Double = 0.0) {
    private val a = 6378137.0
    private val e2 = 1.0 / 298.257223563 * (2 - 1.0 / 298.257223563)
    private val m0 = 1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256
    private val m2 = 3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024
    private val m4 = 15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024
    private val m6 = 35 * e2 * e2 * e2 / 3072
    private val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))

    /** Meridian distance M(φ), Snyder eq. 3-21. */
    private def mDist(phi: Double): Double =
      a * (m0 * phi - m2 * math.sin(2 * phi) + m4 * math.sin(4 * phi) -
        m6 * math.sin(6 * phi))

    /** (lon, lat) degrees → projected (x, y) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val s = math.sin(phi)
      (a * math.toRadians(lonDeg - lon0) * math.cos(phi) /
        math.sqrt(1 - e2 * s * s),
       mDist(phi))
    }

    /** (x, y) meters → (lon, lat) degrees (rectifying series, eq. 3-26). */
    def inverse(x: Double, y: Double): (Double, Double) = {
      val mu = y / (a * m0)
      val phi = mu +
        (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
        (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
        (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
        (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
      val c = math.cos(phi)
      val s = math.sin(phi)
      val lam =
        if (math.abs(c) < 1e-14) 0.0
        else x * math.sqrt(1 - e2 * s * s) / (a * c)
      (lon0 + math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  /** WGS84 polar stereographic, variant B (standard parallel `latTs`;
    * north aspect when latTs > 0, south otherwise) — the polar-science
    * grid family (NSIDC sea-ice grids, Antarctic Polar Stereographic).
    * Snyder USGS PP 1395 eqs. 21-1…21-44 / 7-9 on the ellipsoid;
    * conformal, true scale at the standard parallel (both
    * property-tested). */
  final case class PolarStereographic(latTs: Double, lon0: Double,
      falseE: Double = 0.0, falseN: Double = 0.0,
      ell: Datum.Ellipsoid = Datum.WGS84) {
    private val a = ell.a
    private val e2 = ell.e2
    private val e = ell.e
    private val south = latTs < 0

    /** Snyder 15-9: conformal t(φ), north-aspect convention. */
    private def tFn(phi: Double) =
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)
    private val pTs = math.toRadians(math.abs(latTs))
    private val mTs = math.cos(pTs) / math.sqrt(1 - e2 * math.sin(pTs) * math.sin(pTs))
    private val tTs = tFn(pTs)

    /** (lon, lat) degrees → projected (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      // south aspect = north-aspect math over the mirrored sphere
      val phi = math.toRadians(if (south) -latDeg else latDeg)
      val dLam = math.toRadians(if (south) -(lonDeg - lon0) else lonDeg - lon0)
      val rho = a * mTs * tFn(phi) / tTs
      val x = rho * math.sin(dLam)
      val y = -rho * math.cos(dLam)
      if (south) (falseE - x, falseN - y) else (falseE + x, falseN + y)
    }

    /** (easting, northing) meters → (lon, lat) degrees; iterative t→φ
      * (Snyder 7-9). */
    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val (x, y) =
        if (south) (-(easting - falseE), -(northing - falseN))
        else (easting - falseE, northing - falseN)
      val rho = math.hypot(x, y)
      val t = rho * tTs / (a * mTs)
      var phi = math.Pi / 2 - 2 * math.atan(t)
      var i = 0
      while (i < 8) {
        phi = math.Pi / 2 - 2 * math.atan(t *
          math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
        i += 1
      }
      val dLam = if (rho == 0) 0.0 else math.atan2(x, -y)
      if (south) (lon0 - math.toDegrees(dLam), -math.toDegrees(phi))
      else (lon0 + math.toDegrees(dLam), math.toDegrees(phi))
    }
  }

  /** Ellipsoidal Mercator (Snyder USGS PP 1395 eqs. 7-7/7-9, EPSG 9804
    * — the EPSG:3395 "World Mercator" family): x = a·k₀·Δλ,
    * y = −a·k₀·ln t(φ) with the same conformal t(φ) the polar
    * stereographic / LCC kernels use; inverse recovers φ from
    * t = exp(−y/(a·k₀)) by the standard Snyder 7-9 fixpoint. k₀ comes
    * from `+k` or from a standard parallel (`+lat_ts`):
    * k₀ = cos φts / √(1 − e²·sin²φts) — true scale at ±φts. NOT the
    * spherical Web-Mercator kernel: on WGS84 the two differ by up to
    * ~0.3 % in y (≈20 km at 60°), which is exactly why `+proj=merc
    * +ellps=WGS84` must not silently compile spherically. */
  final case class MercatorEllipsoidal(lon0: Double, k0: Double,
      falseE: Double = 0.0, falseN: Double = 0.0,
      ell: Datum.Ellipsoid = Datum.WGS84) {
    private val a = ell.a
    private val e = ell.e

    private def tFn(phi: Double) =
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val dLam = math.toRadians(lonDeg - lon0)
      (falseE + a * k0 * dLam, falseN - a * k0 * math.log(tFn(phi)))
    }

    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val t = math.exp(-(northing - falseN) / (a * k0))
      var phi = math.Pi / 2 - 2 * math.atan(t)
      var i = 0
      while (i < 8) {
        phi = math.Pi / 2 - 2 * math.atan(t *
          math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
        i += 1
      }
      (lon0 + math.toDegrees((easting - falseE) / (a * k0)),
        math.toDegrees(phi))
    }
  }

  /** mosaic EPSG:4326 → file UTM zone (files gridded in UTM meters). */
  final case class GeoToUtm(zone: Int, south: Boolean) extends PointWarp {
    def toFile(lon: Double, lat: Double): (Double, Double) =
      TransverseMercator.forward(zone, south, lon, lat)
  }

  /** mosaic UTM zone → file EPSG:4326 (files gridded in degrees). */
  final case class UtmToGeo(zone: Int, south: Boolean) extends PointWarp {
    def toFile(e: Double, n: Double): (Double, Double) = {
      val (lon, lat) = TransverseMercator.inverse(zone, south, e, n)
      (lon, lat)
    }
  }

  object GridWarp {
    /** WGS84/Web-Mercator sphere radius (EPSG:3857 definition). */
    private val R = 6378137.0

    /** mosaic EPSG:4326 (degrees) → file EPSG:3857 (meters). */
    case object GeoToWebMercator extends GridWarp {
      def invX(lon: Double): Double = R * math.toRadians(lon)
      def invY(lat: Double): Double =
        R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
    }

    /** mosaic EPSG:3857 (meters) → file EPSG:4326 (degrees). */
    case object WebMercatorToGeo extends GridWarp {
      def invX(x: Double): Double = math.toDegrees(x / R)
      def invY(y: Double): Double =
        math.toDegrees(2 * math.atan(math.exp(y / R)) - math.Pi / 2)
    }

    /** Registered-warp gallery: widely-used national/continental LCC
      * grids, auto-resolved by EPSG code (parameters from the public EPSG
      * registry). Their datums (RGF93/NAD83/ETRS89, all GRS80) differ
      * from WGS84 by < 1 mm in ellipsoid terms — the standard
      * treat-as-equal bridge. */
    private val lccGallery: Map[String, LambertConformal] = Map(
      // RGF93 / Lambert-93 (France)
      "EPSG:2154" -> LambertConformal(49.0, 44.0, 46.5, 3.0,
        700000.0, 6600000.0),
      // ETRS89-extended / LCC Europe
      "EPSG:3034" -> LambertConformal(35.0, 65.0, 52.0, 10.0,
        4000000.0, 2800000.0),
      // NAD83 / Statistics Canada Lambert
      "EPSG:3347" -> LambertConformal(49.0, 77.0, 63.390675, -91.866667,
        6200000.0, 3000000.0),
      // NAD83 / Canada Atlas Lambert
      "EPSG:3978" -> LambertConformal(49.0, 77.0, 49.0, -95.0, 0.0, 0.0))

    /** Albers gallery — the continental equal-area statistics grids
      * (parameters from the public EPSG registry; NAD83/GDA94 ≈ WGS84
      * under the same sub-mm GRS80 bridge as the LCC gallery). */
    private val albersGallery: Map[String, AlbersEqualArea] = Map(
      // NAD83 / Conus Albers
      "EPSG:5070" -> AlbersEqualArea(29.5, 45.5, 23.0, -96.0),
      // GDA94 / Australian Albers
      "EPSG:3577" -> AlbersEqualArea(-18.0, -36.0, 0.0, 132.0),
      // NAD83 / California Albers
      "EPSG:3310" -> AlbersEqualArea(34.0, 40.5, 0.0, -120.0,
        0.0, -4000000.0))

    /** Sinusoidal gallery — the satellite-product grids (sphere-based,
      * no datum bridge needed: the MODIS grid is DEFINED on its authalic
      * sphere). */
    private val sinusoidalGallery: Map[String, Sinusoidal] = Map(
      // MODIS Sinusoidal (MODIS land-products grid — DEFINED on its
      // authalic sphere, so the spherical form IS the authority form)
      "SR-ORG:6974" -> Sinusoidal())

    /** World Sinusoidal is defined on the WGS84 ELLIPSOID — the
      * spherical form diverges ~25 km at mid-latitudes. */
    private val sinusoidalEllGallery: Map[String, SinusoidalEllipsoidal] = Map(
      "ESRI:54008" -> SinusoidalEllipsoidal())

    /** Polar-stereographic gallery — the WGS84 polar-science grids. */
    private val polarGallery: Map[String, PolarStereographic] = Map(
      // WGS84 / NSIDC Sea Ice Polar Stereographic North
      "EPSG:3413" -> PolarStereographic(70.0, -45.0),
      // WGS84 / Antarctic Polar Stereographic
      "EPSG:3031" -> PolarStereographic(-71.0, 0.0),
      // WGS84 / NSIDC Sea Ice Polar Stereographic South
      "EPSG:3976" -> PolarStereographic(-70.0, 0.0))

    private def utm(code: String): Option[(Int, Boolean)] =
      if (!code.startsWith("EPSG:32") || code.length != 10) None
      else code.charAt(7) match {
        case '6' => code.drop(8).toIntOption.filter(z => z >= 1 && z <= 60).map((_, false))
        case '7' => code.drop(8).toIntOption.filter(z => z >= 1 && z <= 60).map((_, true))
        case _ => None
      }

    /** lon/lat degrees → projected coords of `srs`, for every CRS the
      * engine knows natively. */
    private def fromGeoFn(srs: String): Option[(Double, Double) => (Double, Double)] =
      srs match {
        case "EPSG:4326" => Some((lon, lat) => (lon, lat))
        case "EPSG:3857" => Some((lon, lat) =>
          (GeoToWebMercator.invX(lon), GeoToWebMercator.invY(lat)))
        case u if utm(u).isDefined =>
          utm(u).map { case (z, s) =>
            (lon: Double, lat: Double) => TransverseMercator.forward(z, s, lon, lat) }
        case l if lccGallery.contains(l) =>
          Some((lon, lat) => lccGallery(l).forward(lon, lat))
        case al if albersGallery.contains(al) =>
          Some((lon, lat) => albersGallery(al).forward(lon, lat))
        case ps if polarGallery.contains(ps) =>
          Some((lon, lat) => polarGallery(ps).forward(lon, lat))
        case sn if sinusoidalGallery.contains(sn) =>
          Some((lon, lat) => sinusoidalGallery(sn).forward(lon, lat))
        case sn if sinusoidalEllGallery.contains(sn) =>
          Some((lon, lat) => sinusoidalEllGallery(sn).forward(lon, lat))
        case p if Proj4.looksLikeProj(p) =>
          Proj4.parse(p).map(c => c.forward)
        case _ => None
      }

    /** projected coords of `srs` → lon/lat degrees (inverse of the above). */
    private def toGeoFn(srs: String): Option[(Double, Double) => (Double, Double)] =
      srs match {
        case "EPSG:4326" => Some((x, y) => (x, y))
        case "EPSG:3857" => Some((x, y) =>
          (WebMercatorToGeo.invX(x), WebMercatorToGeo.invY(y)))
        case u if utm(u).isDefined =>
          utm(u).map { case (z, s) =>
            (e: Double, n: Double) => TransverseMercator.inverse(z, s, e, n) }
        case l if lccGallery.contains(l) =>
          Some((x, y) => lccGallery(l).inverse(x, y))
        case al if albersGallery.contains(al) =>
          Some((x, y) => albersGallery(al).inverse(x, y))
        case ps if polarGallery.contains(ps) =>
          Some((x, y) => polarGallery(ps).inverse(x, y))
        case sn if sinusoidalGallery.contains(sn) =>
          Some((x, y) => sinusoidalGallery(sn).inverse(x, y))
        case sn if sinusoidalEllGallery.contains(sn) =>
          Some((x, y) => sinusoidalEllGallery(sn).inverse(x, y))
        case p if Proj4.looksLikeProj(p) =>
          Proj4.parse(p).map(c => c.inverse)
        case _ => None
      }

    /** Built-in transforms for well-known (fileSrs, mosaicSrs) pairs —
      * consulted when no explicit registration overrides them. The
      * separable Web-Mercator pair keeps its fast GridWarp path; every
      * OTHER pair among {4326, 3857, UTM 326xx/327xx, the galleries, and
      * any [[Proj4]]-parseable `+proj=…` string} composes
      * mosaic→lon/lat→file (mirroring how the reference hands arbitrary
      * pairs to GDAL's proj pipeline, mosaics.py:44-50) — e.g. Lambert-93
      * tiles in a Web-Mercator mosaic, or an unregistered national grid
      * given as a proj string (flyte/build.py:56-75's `CRS.from_string`
      * path), resolve with no registration. */
    def standard(fileSrs: String, mosaicSrs: String): Option[PointWarp] = {
      // proj4 strings are case-sensitive (+proj=lcc) — only authority
      // codes get uppercased
      def n(s: String) = {
        val t = s.trim
        if (Proj4.looksLikeProj(t)) t else t.toUpperCase
      }
      (n(fileSrs), n(mosaicSrs)) match {
        case ("EPSG:3857", "EPSG:4326") => Some(GeoToWebMercator)
        case ("EPSG:4326", "EPSG:3857") => Some(WebMercatorToGeo)
        case (f, m) =>
          for (m2g <- toGeoFn(m); g2f <- fromGeoFn(f)) yield new PointWarp {
            def toFile(x: Double, y: Double): (Double, Double) = {
              val (lon, lat) = m2g(x, y)
              g2f(lon, lat)
            }
          }
      }
    }
  }

  /** Same-datum linear bridge: mosaic = (ax·xf + bx, ay·yf + by) for file
    * coords (xf, yf). */
  final case class Affine(ax: Double, bx: Double, ay: Double, by: Double)
      extends GridWarp {
    require(ax != 0 && ay != 0, "degenerate affine transform")
    def invX(x: Double): Double = (x - bx) / ax
    def invY(y: Double): Double = (y - by) / ay
  }
  object Affine { val Identity: Affine = Affine(1, 0, 1, 0) }

  /** One manifest row as seen by assembly; envelope is ALWAYS in mosaic
    * coordinates (that is what index pruning and chunk covering need);
    * `srs` names the FILE's pixel-grid CRS. Public only because Spark's
    * generated encoder projections cannot touch private classes. */
  final case class TileRef(seq: Long, location: String,
      tx0: Double, ty0: Double, tx1: Double, ty1: Double, srs: String)

  /** Per-JVM decoded-band LRU: a tile overlapping many chunks in one
    * executor is read + decoded once, not once per chunk. Two tiers:
    * a page-metadata cache (location → IFD-chain Infos, ~100 B each) and
    * the heavy plane cache ((location, band, pyramid level) → decoded
    * floats), both access-ordered. Bounded by entry count — size for the
    * worst tile a deployment reads (a 4096² float plane is 64 MiB; 16
    * entries ≈ 1 GiB ceiling; override via `graft.gti.tileCacheEntries`). */
  private object TileCache {
    private val maxEntries =
      sys.props.get("graft.gti.tileCacheEntries").map(_.toInt).getOrElse(16)
    private def lru[K, V](cap: Int) =
      new java.util.LinkedHashMap[K, V](32, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > cap
      }
    private val metas = lru[String, Seq[GeoTiff.Info]](4096)
    private val planes = lru[(String, Int, Int), Array[Float]](maxEntries)

    def infos(loc: String, localize: String => String): Seq[GeoTiff.Info] = {
      val hit = metas.synchronized(metas.get(loc))
      if (hit != null) hit
      else {
        val v = GeoTiff.infos(Files.readAllBytes(Paths.get(localize(loc))))
        metas.synchronized(metas.put(loc, v))
        v
      }
    }

    def plane(loc: String, band: Int, level: Int,
              localize: String => String): Array[Float] = {
      val k = (loc, band, level)
      val hit = planes.synchronized(planes.get(k))
      if (hit != null) hit
      else { // load outside the lock: a rare duplicate decode beats serial IO
        val bytes = Files.readAllBytes(Paths.get(localize(loc)))
        metas.synchronized { // piggyback: the parse is already paid for
          if (metas.get(loc) == null) metas.put(loc, GeoTiff.infos(bytes))
        }
        val v = GeoTiff.readBand(bytes, band, level)
        planes.synchronized(planes.put(k, v))
        v
      }
    }
  }

  /** Overlay assembly: materialize every target chunk intersecting `env`
    * for `band`, last-valid-pixel-wins in manifest order, per-file nearest
    * resample. `localize` maps a VSI location to a local path (tests:
    * fixture tree; production: a fetch cache). `warps` registers
    * (fileSrs, mosaicSrs) → mosaic-to-file grid transforms for tiles whose
    * grid is in a different CRS; the EPSG:4326↔3857 pair resolves from
    * GridWarp.standard when unregistered, anything else fails fast.
    *
    * Plan: tile rows explode to the chunk keys their envelope covers
    * (clamped to the query window) and cogroup against the dense chunk
    * grid — a hash equi-join on (cy, cx). The manifest is never collected
    * to the driver; per-chunk work sees only that chunk's tiles, sorted by
    * manifest seq for the last-pixel-wins order. */
  def assemble(spark: SparkSession, dst: String, band: Int, chunkPx: Int,
               env: Option[(Double, Double, Double, Double)] = None,
               warps: Map[(String, String), PointWarp] = Map.empty,
               resOverride: Option[(Double, Double)] = None)
              (localize: String => String): Dataset[ChunkRow] = {
    import spark.implicits._
    // res override at open (reference build_gti_xarray's xres/yres,
    // mosaics.py:116-175): the target grid re-derives from the overridden
    // resolution — nX/nY are res-dependent defs on Meta — and overview
    // selection then reads correspondingly coarser pyramid pages
    val meta = resOverride.fold(readMeta(dst))(r =>
      readMeta(dst).copy(resx = r._1, resy = r._2))
    val idx0 = readIndex(spark, dst, env)
    val idx = if (idx0.columns.contains("srs")) idx0
              else idx0.withColumn("srs", lit(meta.srs))
    val tiles = idx.select(col("seq"), col("location"),
        col("minx").as("tx0"), col("miny").as("ty0"),
        col("maxx").as("tx1"), col("maxy").as("ty1"), col("srs"))
      .as[TileRef]
    val (qx0, qy0, qx1, qy1) = env.getOrElse((meta.minx, meta.miny, meta.maxx, meta.maxy))
    val cyR = chunkRange(meta.maxy - qy1, meta.maxy - qy0, meta.resy, chunkPx, meta.nY)
    val cxR = chunkRange(qx0 - meta.minx, qx1 - meta.minx, meta.resx, chunkPx, meta.nX)
    if (cyR.isEmpty || cxR.isEmpty)
      return spark.emptyDataset[ChunkRow]
    val (cyMin, cyMax) = (cyR.head, cyR.last)
    val (cxMin, cxMax) = (cxR.head, cxR.last)
    val m = meta
    val cp = chunkPx
    val exploded = tiles.flatMap { t =>
      for {
        cy <- chunkRange(m.maxy - t.ty1, m.maxy - t.ty0, m.resy, cp, m.nY)
          if cy >= cyMin && cy <= cyMax
        cx <- chunkRange(t.tx0 - m.minx, t.tx1 - m.minx, m.resx, cp, m.nX)
          if cx >= cxMin && cx <= cxMax
      } yield (cy, cx, t)
    }
    val chunkKeys = for (cy <- cyR; cx <- cxR) yield (cy, cx)
    val wr = warps
    val loc = localize
    val b = band
    spark.createDataset(chunkKeys)
      .groupByKey(identity)
      .cogroup(exploded.groupByKey(r => (r._1, r._2))) { case ((cy, cx), keys, ts) =>
        if (keys.isEmpty) Iterator.empty // right-only: outside the query grid
        else Iterator.single(
          paintChunk(m, b, cp, cy, cx, ts.map(_._3).toArray.sortBy(_.seq), wr, loc))
      }
  }

  /** One chunk's overlay: tiles already grouped + seq-sorted by the plan. */
  private def paintChunk(m: Meta, band: Int, chunkPx: Int, cy: Int, cx: Int,
      tiles: Array[TileRef], warps: Map[(String, String), PointWarp],
      localize: String => String): ChunkRow = {
    val data = Array.fill(chunkPx * chunkPx)(Float.NaN)
    val chx0 = m.minx + cx.toLong * chunkPx * m.resx
    val chy1 = m.maxy - cy.toLong * chunkPx * m.resy
    tiles.foreach { t =>
      val pages = TileCache.infos(t.location, localize)
      val base = pages.head
      val aff: PointWarp =
        if (t.srs == m.srs) Affine.Identity
        else warps.get((t.srs, m.srs))
          .orElse(GridWarp.standard(t.srs, m.srs))
          .getOrElse(throw new IllegalArgumentException(
            s"tile ${t.location} grid CRS '${t.srs}' != mosaic '${m.srs}' and no " +
              "grid warp is registered (or built in) for the pair"))
      // file grid in FILE coordinates; tiepoint fallback maps the manifest
      // envelope corner back through the warp
      val (bresx, bresy) = base.pixelScale.getOrElse((m.resx, m.resy))
      val (fx0, fy1) = base.tiepoint.getOrElse(aff.toFile(t.tx0, t.ty1))
      val nd = base.nodata.getOrElse(m.nodata)
      // COG pyramid pays off here: read the coarsest overview still at or
      // finer than the target resolution (GDAL's overview-selection rule).
      // Level ℓ decimates the full grid at stride 2^ℓ, so its effective
      // mosaic-units resolution is base·2^ℓ / (file units per mosaic
      // unit). The warp scale is taken LOCALLY across this chunk's span
      // via corner distances — exact for affine warps, per-chunk-accurate
      // for Mercator's latitude-dependent stretch, and rotation-aware for
      // UTM grid convergence (Euclidean distance, not per-axis deltas).
      val wSpanX = chunkPx * m.resx
      val wSpanY = chunkPx * m.resy
      val c00 = aff.toFile(chx0, chy1)
      val c10 = aff.toFile(chx0 + wSpanX, chy1)
      val c01 = aff.toFile(chx0, chy1 - wSpanY)
      def dist(a: (Double, Double), b: (Double, Double)): Double =
        math.hypot(a._1 - b._1, a._2 - b._2)
      val fPerMosX = dist(c10, c00) / wSpanX
      val fPerMosY = dist(c01, c00) / wSpanY
      var lvl = 0
      while (lvl + 1 < pages.length && fPerMosX > 0 && fPerMosY > 0 &&
          bresx * (1L << (lvl + 1)) / fPerMosX <= m.resx &&
          bresy * (1L << (lvl + 1)) / fPerMosY <= m.resy)
        lvl += 1
      val fi = pages(lvl)
      val stride = 1 << lvl
      val (fresx, fresy) = (bresx * stride, bresy * stride)
      val plane = TileCache.plane(t.location, band, lvl, localize)
      // RESAMPLING honors the manifest metadata (mosaics.py:90; the
      // reference's GTI default is "average", and GDAL's GTI driver
      // admits the full gdalwarp set — mosaics.py:31). Footprint family
      // (average/mode/min/max): statistic of valid source pixels whose
      // centers fall inside the target cell footprint (the axis-aligned
      // bbox of the four warped cell corners), degrading to nearest when
      // the source is coarser than the target (no center lands in the
      // footprint); mode breaks frequency ties toward the SMALLEST value
      // (deterministic across scan orders). Kernel family: bilinear =
      // 2×2 tent at the warped cell center, cubic = 4×4 Catmull-Rom
      // (a = −0.5, GDAL's kernel), lanczos = 6×6 windowed sinc (radius
      // 3, GDAL's kernel); all skip nodata/out-of-bounds taps and
      // renormalize over the remaining weight (all-invalid → nodata).
      // Anything else = nearest.
      val mode = m.resampling.toLowerCase match {
        case "average" => 0
        case "bilinear" => 1
        case "cubic" => 2
        case "lanczos" => 4
        case "mode" => 5
        case "min" => 6
        case "max" => 7
        case _ => 3
      }
      def isNd(v: Float): Boolean = if (nd.isNaN) v.isNaN else v == nd.toFloat
      // gx/gy are file PIXEL-CENTER coordinates (pixel k's center at k)
      def sampleKernel(gx: Double, gy: Double, kind: Int): Float = {
        val r = kind match { case 2 => 2; case 4 => 3; case _ => 1 } // taps: 2r
        val xb = math.floor(gx).toInt
        val yb = math.floor(gy).toInt
        def sinc(t: Double): Double =
          if (t == 0.0) 1.0 else { val p = math.Pi * t; math.sin(p) / p }
        def w1(t: Double): Double = kind match {
          case 2 =>
            val a = -0.5; val at = math.abs(t)
            if (at <= 1) ((a + 2) * at - (a + 3)) * at * at + 1
            else if (at < 2) ((a * at - 5 * a) * at + 8 * a) * at - 4 * a
            else 0.0
          case 4 =>
            val at = math.abs(t)
            if (at < 3.0) sinc(t) * sinc(t / 3.0) else 0.0
          case _ => math.max(0.0, 1.0 - math.abs(t))
        }
        var sum = 0.0
        var wsum = 0.0
        var j = -r + 1
        while (j <= r) {
          val fr = yb + j
          if (fr >= 0 && fr < fi.height) {
            val wy = w1(gy - fr)
            var i = -r + 1
            while (i <= r) {
              val fc = xb + i
              if (fc >= 0 && fc < fi.width && wy != 0.0) {
                val v = plane(fr * fi.width + fc)
                if (!isNd(v)) {
                  val w = wy * w1(gx - fc)
                  sum += w * v
                  wsum += w
                }
              }
              i += 1
            }
          }
          j += 1
        }
        if (wsum > 1e-12) (sum / wsum).toFloat else Float.NaN
      }
      var py = 0
      while (py < chunkPx) {
        val yTop = chy1 - py * m.resy
        var px = 0
        while (px < chunkPx) {
          val xL = chx0 + px * m.resx
          // nearest file pixel for the warped cell center (also the
          // averaging fallback)
          val (fxc, fyc) = aff.toFile(xL + 0.5 * m.resx, yTop - 0.5 * m.resy)
          val fcN = math.floor((fxc - fx0) / fresx).toInt
          val frN = math.floor((fy1 - fyc) / fresy).toInt
          val out = py * chunkPx + px
          // out-of-domain warp (e.g. a geos-CRS tile seen from beyond the
          // visible disk) returns NaN coordinates; NaN.toInt is 0, so an
          // unguarded nearest/average path would silently resample pixel
          // (0,0) — skip the cell instead (stays mosaic nodata)
          if (fxc.isNaN || fyc.isNaN) ()
          else if (mode == 1 || mode == 2 || mode == 4) {
            val gx = (fxc - fx0) / fresx - 0.5
            val gy = (fy1 - fyc) / fresy - 0.5
            val v = sampleKernel(gx, gy, mode)
            if (!v.isNaN) data(out) = v
          } else if (mode == 0 || mode >= 5) {
            // footprint = bbox of the four warped corners (conservative
            // under rotation; equals the per-axis bounds when separable)
            val cA = aff.toFile(xL, yTop)
            val cB = aff.toFile(xL + m.resx, yTop)
            val cC = aff.toFile(xL, yTop - m.resy)
            val cD = aff.toFile(xL + m.resx, yTop - m.resy)
            val xf0 = math.min(math.min(cA._1, cB._1), math.min(cC._1, cD._1))
            val xf1 = math.max(math.max(cA._1, cB._1), math.max(cC._1, cD._1))
            val yf0 = math.min(math.min(cA._2, cB._2), math.min(cC._2, cD._2))
            val yf1 = math.max(math.max(cA._2, cB._2), math.max(cC._2, cD._2))
            // file rows/cols whose centers fall inside the footprint
            val frLo = math.floor((fy1 - yf1) / fresy - 0.5).toInt + 1
            val frHi = math.floor((fy1 - yf0) / fresy - 0.5).toInt
            val fcLo = math.ceil((xf0 - fx0) / fresx - 0.5).toInt
            val fcHi = math.ceil((xf1 - fx0) / fresx - 0.5).toInt - 1
            if (frLo > frHi || fcLo > fcHi) { // source coarser: nearest
              if (frN >= 0 && frN < fi.height && fcN >= 0 && fcN < fi.width) {
                val v = plane(frN * fi.width + fcN)
                if (!isNd(v)) data(out) = v
              }
            } else {
              var sum = 0.0; var n = 0
              var mn = Float.MaxValue; var mx = Float.MinValue
              // mode only: frequency of each valid value in the (small)
              // footprint; ties resolve toward the smallest value
              val freq = if (mode == 5)
                scala.collection.mutable.HashMap.empty[Float, Int] else null
              var fr = math.max(frLo, 0)
              val frEnd = math.min(frHi, fi.height - 1)
              while (fr <= frEnd) {
                var fc = math.max(fcLo, 0)
                val fcEnd = math.min(fcHi, fi.width - 1)
                while (fc <= fcEnd) {
                  val v = plane(fr * fi.width + fc)
                  if (!isNd(v)) {
                    sum += v; n += 1
                    if (v < mn) mn = v
                    if (v > mx) mx = v
                    if (freq != null) freq(v) = freq.getOrElse(v, 0) + 1
                  }
                  fc += 1
                }
                fr += 1
              }
              if (n > 0) data(out) = mode match {
                case 5 =>
                  var bestV = Float.NaN; var bestN = 0
                  freq.foreach { case (v, c) =>
                    if (c > bestN || (c == bestN && v < bestV)) {
                      bestV = v; bestN = c
                    }
                  }
                  bestV
                case 6 => mn
                case 7 => mx
                case _ => (sum / n).toFloat
              }
            }
          } else if (frN >= 0 && frN < fi.height && fcN >= 0 && fcN < fi.width) {
            val v = plane(frN * fi.width + fcN)
            if (!isNd(v)) data(out) = v
          }
          px += 1
        }
        py += 1
      }
    }
    ChunkRow(0, band, cy, cx, data)
  }

  /** Multi-manifest temporal mosaic — the reference's
    * `build_temporal_mosaic` (mosaics.py:217-262): one GTI per (dataset,
    * time) concatenated into a single [time, band, y, x] cube. Each input
    * manifest contributes its assembly at the given time index and band
    * offset; the result is a lazy union, so every (manifest, band) pair
    * materializes independently in parallel — the Spark twin of "open each
    * GTI lazily, concat dims, chunk by time". Manifests must share the
    * target grid (the reference's requirement too). */
  def temporalMosaic(spark: SparkSession,
                     parts: Seq[(String, Int, Int)], // (manifest dst, timeIdx, bandOffset)
                     env: Option[(Double, Double, Double, Double)] = None,
                     chunkPx: Int = 256,
                     warps: Map[(String, String), PointWarp] = Map.empty)
                    (localize: String => String): Dataset[ChunkRow] = {
    import spark.implicits._
    require(parts.nonEmpty)
    parts.map { case (dst, timeIdx, bandOffset) =>
      val nBands = readMeta(dst).bandCount
      (0 until nBands).map { b =>
        assemble(spark, dst, b, chunkPx, env, warps)(localize)
          .map(r => ChunkRow(timeIdx, bandOffset + r.band, r.cy, r.cx, r.data))
      }.reduce(_ union _)
    }.reduce(_ union _)
  }

  private def chunkRange(lo: Double, hi: Double, res: Double, chunkPx: Int,
                         nCells: Int): Seq[Int] = {
    val nChunks = (nCells + chunkPx - 1) / chunkPx
    val c0 = math.max(0, math.floor(lo / res / chunkPx).toInt)
    val c1 = math.min(nChunks - 1, math.ceil(hi / res / chunkPx).toInt - 1)
    c0 to c1
  }
}
