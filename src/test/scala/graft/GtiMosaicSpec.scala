package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{GeoTiffWriter, GtiMosaic}

/** GTI manifest contract: metadata round-trips from the sidecar alone (no
  * tile probing), envelope pruning is an index predicate, and assembly is
  * last-valid-pixel-wins in manifest order with per-file resample. */
class GtiMosaicSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private val meta = GtiMosaic.Meta("Float32", Double.NaN,
    0.0, 0.0, 10.0, 10.0, 1.0, 1.0, 1, "nearest", "EPSG:4326")

  // A: 6x6 res-1 at (0,10), all 1s. B: 12x8 res-0.5 over x[4,10) y[6,10),
  // all 2s except a NaN block at its left edge (x in [4,5), all rows).
  private def buildFixtures(dir: String): Unit = {
    val a = Array.fill(36)(1.0f)
    Files.write(Paths.get(dir, "a.tif"), GeoTiffWriter.write(6, 6, Seq(a),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 10.0), nodata = Some(Double.NaN)))
    val b = Array.tabulate(12 * 8) { i =>
      val c = i % 12
      if (c < 2) Float.NaN else 2.0f // cols 0-1 = x in [4,5): nodata
    }
    Files.write(Paths.get(dir, "b.tif"), GeoTiffWriter.write(12, 8, Seq(b),
      pixelScale = (0.5, 0.5), tiepoint = (4.0, 10.0), nodata = Some(Double.NaN)))
  }

  private def writeManifest(dir: String, dst: String): Unit = {
    val index = Seq(
      ("s3://mosaic.fixtures/" + "a.tif", 0.0, 4.0, 6.0, 10.0),
      ("s3://mosaic.fixtures/" + "b.tif", 4.0, 6.0, 10.0, 10.0))
      .toDF("location", "minx", "miny", "maxx", "maxy")
    GtiMosaic.write(index.coalesce(1), dst, meta)
  }

  test("metadata + index round-trip from manifest only; locations are VSI") {
    val dst = Files.createTempDirectory("graft-gti").toString
    writeManifest(Files.createTempDirectory("none").toString, dst)
    val m = GtiMosaic.readMeta(dst)
    assert(m.dataType == "Float32" && m.nodata.isNaN && m.bandCount == 1)
    assert((m.minx, m.miny, m.maxx, m.maxy) == ((0.0, 0.0, 10.0, 10.0)))
    assert(m.resx == 1.0 && m.nX == 10 && m.nY == 10)
    // no tile file exists anywhere — metadata and index still fully read
    val idx = GtiMosaic.readIndex(spark, dst).orderBy("seq").collect()
    assert(idx.length == 2)
    assert(idx.map(_.getAs[String]("location")).toSeq ==
      Seq("/vsis3/mosaic.fixtures/a.tif", "/vsis3/mosaic.fixtures/b.tif"))
    // envelope pruning keeps only intersecting tiles
    assert(GtiMosaic.readIndex(spark, dst, Some((0.0, 4.0, 3.0, 10.0))).count() == 1)
  }

  test("assembly: last valid pixel wins in manifest order, per-file resample") {
    val fix = Files.createTempDirectory("graft-gti-fix").toString
    buildFixtures(fix)
    val dst = Files.createTempDirectory("graft-gti2").toString
    writeManifest(fix, dst)
    val localize = (loc: String) =>
      Paths.get(fix, loc.split('/').last).toString
    val chunks = GtiMosaic.assemble(spark, dst, band = 0, chunkPx = 5)(localize)
      .collect().map(r => (r.cy, r.cx) -> r.data).toMap
    assert(chunks.keySet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    def at(gx: Int, gy: Int): Float = { // gy from top
      val c = chunks((gy / 5, gx / 5))
      c((gy % 5) * 5 + (gx % 5))
    }
    assert(at(1, 1) == 1.0f)   // A only
    assert(at(5, 1) == 2.0f)   // overlap x=5.5,y top: B wins over A
    assert(at(4, 2) == 1.0f)   // overlap but B nodata at x in [4,5): A shows
    assert(at(8, 1) == 2.0f)   // B only
    assert(at(8, 8).isNaN)     // uncovered (below both)
    assert(at(1, 5) == 1.0f)   // A's bottom row (y = 4.5)
    assert(at(1, 7).isNaN)     // below A's extent
    // envelope-restricted assembly prunes to the intersecting chunk(s)
    val sub = GtiMosaic.assemble(spark, dst, 0, 5, Some((0.5, 5.5, 4.0, 9.5)))(localize)
      .collect()
    assert(sub.map(r => (r.cy, r.cx)).toSet == Set((0, 0)))
  }

  test("temporalMosaic concatenates manifests into [time, band] cube indices") {
    val fix = Files.createTempDirectory("graft-gti-tm").toString
    buildFixtures(fix)
    val dst1 = Files.createTempDirectory("graft-gti-t0").toString
    val dst2 = Files.createTempDirectory("graft-gti-t1").toString
    writeManifest(fix, dst1)
    writeManifest(fix, dst2)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val cube = GtiMosaic.temporalMosaic(spark,
      Seq((dst1, 0, 0), (dst2, 1, 3)), chunkPx = 5)(localize)
      .collect()
    // 2 manifests x 1 band x 4 chunks; distinct (time, band) = {(0,0),(1,3)}
    assert(cube.length == 8)
    assert(cube.map(r => (r.time, r.band)).toSet == Set((0, 0), (1, 3)))
    // same pixel content at both time steps (same fixture tiles)
    val by = cube.groupBy(r => (r.time, r.cy, r.cx))
    assert(by.values.forall(_.length == 1))
  }

  test("writeGtis groups features by time into per-date manifests (build.py loop)") {
    val fix = Files.createTempDirectory("graft-gti-wg").toString
    buildFixtures(fix)
    val root = Files.createTempDirectory("graft-gti-wg-root").toString
    val features = Seq(
      (java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
        "s3://mosaic.fixtures/a.tif", 0.0, 4.0, 6.0, 10.0),
      (java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
        "s3://mosaic.fixtures/b.tif", 4.0, 6.0, 10.0, 10.0),
      (java.sql.Timestamp.valueOf("2022-01-01 00:00:00"),
        "s3://mosaic.fixtures/a.tif", 0.0, 4.0, 6.0, 10.0))
      .toDF("time", "location", "minx", "miny", "maxx", "maxy")
    val gtis = graft.pipelines.MosaicPipeline.writeGtis(features, root, meta)
    assert(gtis.map(_._2.split('/').last) == Seq("20210101", "20220101"))
    assert(GtiMosaic.readIndex(spark, gtis(0)._2).count() == 2)
    assert(GtiMosaic.readIndex(spark, gtis(1)._2).count() == 1)
    // and the manifests drive a temporal mosaic end to end
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val cube = GtiMosaic.temporalMosaic(spark,
      gtis.zipWithIndex.map { case ((_, d), i) => (d, i, 0) }, chunkPx = 5)(localize)
      .collect()
    assert(cube.map(_.time).toSet == Set(0, 1))
  }

  test("writeGtis keys sub-daily times with full UTC timestamps (no same-day clobber)") {
    val fix = Files.createTempDirectory("graft-gti-wg2").toString
    buildFixtures(fix)
    val root = Files.createTempDirectory("graft-gti-wg2-root").toString
    // two distinct instants on the SAME calendar day: a yyyyMMdd key would
    // collapse them to one dir and the second overwrite the first
    val features = Seq(
      (java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
        "s3://mosaic.fixtures/a.tif", 0.0, 4.0, 6.0, 10.0),
      (java.sql.Timestamp.valueOf("2021-01-01 06:30:00"),
        "s3://mosaic.fixtures/b.tif", 4.0, 6.0, 10.0, 10.0))
      .toDF("time", "location", "minx", "miny", "maxx", "maxy")
    val gtis = graft.pipelines.MosaicPipeline.writeGtis(features, root, meta)
    assert(gtis.map(_._2.split('/').last) ==
      Seq("20210101T000000", "20210101T063000"))
    assert(GtiMosaic.readIndex(spark, gtis(0)._2).count() == 1)
    assert(GtiMosaic.readIndex(spark, gtis(1)._2).count() == 1)
  }

  test("E1 composition: GTI manifests -> temporal mosaic -> Zarr store round-trip") {
    // the reference's build_dataset_mosaic_workflow: per-time GTIs opened
    // lazily, concatenated, written region-parallel into a Zarr store
    val fix = Files.createTempDirectory("graft-gti-e1").toString
    buildFixtures(fix)
    val dst = Files.createTempDirectory("graft-gti-e1m").toString
    writeManifest(fix, dst)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val cube = GtiMosaic.temporalMosaic(spark, Seq((dst, 0, 0)), chunkPx = 5)(localize)
    val store = Files.createTempDirectory("graft-gti-e1z").toString
    graft.zarr.ZarrStore.init(store,
      graft.model.GridDef(1, 1, 10, 10, 5, 5, 4), bands = Seq("b0"))
    graft.zarr.ZarrStore.write(cube, store)
    val back = graft.zarr.ArrayStore.read(spark, store).collect()
      .map(r => (r.time, r.band, r.cy, r.cx) -> r.data.toSeq).toMap
    val want = cube.collect().map(r => (r.time, r.band, r.cy, r.cx) -> r.data.toSeq).toMap
    assert(back.keySet == want.keySet && back.keySet.size == 4)
    want.foreach { case (k, v) =>
      back(k).zip(v).foreach { case (g, w) =>
        assert((g.isNaN && w.isNaN) || g == w, s"chunk $k")
      }
    }
  }

  test("assembly plan is a chunk-key equi-join (cogroup), not a driver loop") {
    val fix = Files.createTempDirectory("graft-gti-plan").toString
    buildFixtures(fix)
    val dst = Files.createTempDirectory("graft-gti-plan-dst").toString
    writeManifest(fix, dst)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val ds = GtiMosaic.assemble(spark, dst, 0, 5)(localize)
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("CoGroup"), plan)          // the chunk-key equi-join
    assert(plan.contains("index"), plan)            // manifest scanned as a table
    // and it still computes the same mosaic as the fixture expectations
    assert(ds.collect().map(r => (r.cy, r.cx)).toSet ==
      Set((0, 0), (0, 1), (1, 0), (1, 1)))
  }

  test("affine CRS warp: a tile in a scaled/offset grid resamples like a native one") {
    val fix = Files.createTempDirectory("graft-gti-warp").toString
    buildFixtures(fix) // a.tif, b.tif in the mosaic CRS
    // b2.tif: SAME pixels as b.tif but its grid lives in a CRS where
    // mosaic = 0.5 * file (so scale (1,1) at tiepoint (8,20) maps to
    // b.tif's mosaic-CRS scale (0.5,0.5) at (4,10))
    val b2 = Array.tabulate(12 * 8) { i => if (i % 12 < 2) Float.NaN else 2.0f }
    Files.write(Paths.get(fix, "b2.tif"), GeoTiffWriter.write(12, 8, Seq(b2),
      pixelScale = (1.0, 1.0), tiepoint = (8.0, 20.0), nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-warp-dst").toString
    val index = Seq(
      ("s3://mosaic.fixtures/a.tif", 0.0, 4.0, 6.0, 10.0, "EPSG:4326"),
      ("s3://mosaic.fixtures/b2.tif", 4.0, 6.0, 10.0, 10.0, "local:half"))
      .toDF("location", "minx", "miny", "maxx", "maxy", "srs")
    GtiMosaic.write(index.coalesce(1), dst, meta)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val warps = Map(("local:half", "EPSG:4326") ->
      GtiMosaic.Affine(0.5, 0.0, 0.5, 0.0))
    val chunks = GtiMosaic.assemble(spark, dst, 0, 5, warps = warps)(localize)
      .collect().map(r => (r.cy, r.cx) -> r.data).toMap
    def at(gx: Int, gy: Int): Float = {
      val c = chunks((gy / 5, gx / 5)); c((gy % 5) * 5 + (gx % 5))
    }
    // identical expectations to the native-CRS b.tif assembly test
    assert(at(1, 1) == 1.0f)   // A only
    assert(at(5, 1) == 2.0f)   // overlap: warped B2 wins over A
    assert(at(4, 2) == 1.0f)   // B2 nodata strip x in [4,5): A shows through
    assert(at(8, 1) == 2.0f)   // B2 only
    assert(at(8, 8).isNaN)     // uncovered
    // an unregistered CRS pair fails fast, not silently
    val bad = intercept[Exception] {
      GtiMosaic.assemble(spark, dst, 0, 5)(localize).collect()
    }
    assert(bad.getMessage != null)
  }

  test("Web-Mercator warp: a 3857-grid tile reprojects into a 4326 mosaic") {
    // Mosaic: EPSG:4326, lon [0,12] x lat [57,69], res 3 -> 4x4 pixels,
    // row centers at lat 67.5/64.5/61.5/58.5. Tile: EPSG:3857 grid, 10x10
    // pixels spanning lon [0,12] x lat [55,70] IN MERCATOR METERS, value =
    // row*10+col. At these latitudes Mercator's y-stretch moves EVERY
    // mosaic row to a different file row than a linear lat fit would pick:
    // hand-computed floors are [2,4,6,8] (linear would give [1,3,5,7]).
    val R = 6378137.0
    def mercY(lat: Double) = R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
    def mercX(lon: Double) = R * math.toRadians(lon)
    val fix = Files.createTempDirectory("graft-gti-merc").toString
    val vals = Array.tabulate(100)(_.toFloat)
    val (yTop, yBot) = (mercY(70), mercY(55))
    Files.write(Paths.get(fix, "m.tif"), GeoTiffWriter.write(10, 10, Seq(vals),
      pixelScale = (mercX(12) / 10, (yTop - yBot) / 10),
      tiepoint = (0.0, yTop), nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-merc-dst").toString
    val mMeta = GtiMosaic.Meta("Float32", Double.NaN,
      0.0, 57.0, 12.0, 69.0, 3.0, 3.0, 1, "nearest", "EPSG:4326")
    val index = Seq(("s3://mosaic.fixtures/m.tif", 0.0, 55.0, 12.0, 70.0, "EPSG:3857"))
      .toDF("location", "minx", "miny", "maxx", "maxy", "srs")
    GtiMosaic.write(index.coalesce(1), dst, mMeta)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    // no explicit warp registration: the built-in 3857->4326 pair resolves
    val chunk = GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect()
    assert(chunk.length == 1 && chunk.head.cy == 0 && chunk.head.cx == 0)
    val frExpected = Seq(2, 4, 6, 8) // hand-computed Mercator row floors
    val fcExpected = Seq(1, 3, 6, 8) // floor(lon_c/12*10), linear in lon
    for (py <- 0 until 4; px <- 0 until 4) {
      val want = (frExpected(py) * 10 + fcExpected(px)).toFloat
      assert(chunk.head.data(py * 4 + px) == want, s"pixel ($px,$py)")
    }
  }

  test("GridWarp: 4326<->3857 built-ins invert each other and resolve by name") {
    import graft.raster.GtiMosaic.GridWarp
    val g2m = GridWarp.standard("EPSG:3857", "EPSG:4326")
    val m2g = GridWarp.standard("epsg:4326", "EPSG:3857") // case-insensitive
    assert(g2m.contains(GridWarp.GeoToWebMercator))
    assert(m2g.contains(GridWarp.WebMercatorToGeo))
    for (lon <- Seq(-179.5, -42.0, 0.0, 13.37, 179.5);
         lat <- Seq(-84.0, -45.0, 0.0, 33.3, 84.0)) {
      assert(math.abs(GridWarp.WebMercatorToGeo.invX(
        GridWarp.GeoToWebMercator.invX(lon)) - lon) < 1e-9)
      assert(math.abs(GridWarp.WebMercatorToGeo.invY(
        GridWarp.GeoToWebMercator.invY(lat)) - lat) < 1e-9)
    }
    // UTM pairs resolve through the geo-composition path — assert the
    // BEHAVIOR matches the dedicated warps on sample points
    val utmWarp = GridWarp.standard("EPSG:32633", "EPSG:4326").get
    val utmRef = GtiMosaic.GeoToUtm(33, south = false)
    val backWarp = GridWarp.standard("EPSG:4326", "EPSG:32733").get
    val backRef = GtiMosaic.UtmToGeo(33, south = true)
    for (lon <- Seq(13.5, 15.0, 16.5); lat <- Seq(-45.0, 40.0, 60.0)) {
      val (g, r) = (utmWarp.toFile(lon, lat), utmRef.toFile(lon, lat))
      assert(math.abs(g._1 - r._1) < 1e-9 && math.abs(g._2 - r._2) < 1e-9)
      val (e, n) = GtiMosaic.TransverseMercator.forward(33, south = true, lon, lat)
      val (g2, r2) = (backWarp.toFile(e, n), backRef.toFile(e, n))
      assert(math.abs(g2._1 - r2._1) < 1e-9 && math.abs(g2._2 - r2._2) < 1e-9)
    }
    // gallery LCC codes now auto-resolve; unknown codes still don't
    assert(GridWarp.standard("EPSG:2154", "EPSG:4326").isDefined)
    assert(GridWarp.standard("EPSG:27700", "EPSG:4326").isEmpty)
  }

  test("UTM transverse Mercator: independent invariants hold") {
    import graft.raster.GtiMosaic.TransverseMercator
    val (a, f) = (6378137.0, 1.0 / 298.257223563)
    val e2 = f * (2 - f)
    // 1) meridian arc cross-check by NUMERIC INTEGRATION of the ellipse
    //    (Simpson's rule over M(phi) = ∫ a(1-e²)/(1-e²sin²t)^1.5 dt),
    //    fully independent of the closed-form series
    def arcNumeric(latDeg: Double): Double = {
      val n = 20000
      val h = math.toRadians(latDeg) / n
      def g(t: Double) = a * (1 - e2) / math.pow(1 - e2 * math.sin(t) * math.sin(t), 1.5)
      (0 until n).map { i =>
        (g(i * h) + 4 * g(i * h + h / 2) + g((i + 1) * h)) * h / 6
      }.sum
    }
    for (lat <- Seq(15.0, 45.0, 60.0, 84.0))
      assert(math.abs(TransverseMercator.meridianArc(lat) - arcNumeric(lat)) < 0.001,
        s"meridian arc at $lat")
    // 2) on the central meridian: easting EXACTLY 500000, northing = k0*M
    val (e0, n0) = TransverseMercator.forward(33, south = false, 15.0, 60.0)
    assert(e0 == 500000.0)
    assert(math.abs(n0 - 0.9996 * arcNumeric(60.0)) < 0.001)
    // 3) south false northing
    val (_, nS) = TransverseMercator.forward(33, south = true, 15.0, -30.0)
    assert(math.abs(nS - (10000000.0 + 0.9996 * arcNumeric(-30.0))) < 0.001)
    // 4) forward∘inverse identity across the zone (±3° of the CM)
    for (lon <- Seq(12.5, 14.0, 15.0, 16.5, 17.9); lat <- Seq(-70.0, -10.0, 0.0, 40.0, 80.0)) {
      val (e, n) = TransverseMercator.forward(33, lat < 0, lon, lat)
      val (lon2, lat2) = TransverseMercator.inverse(33, lat < 0, e, n)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"roundtrip ($lon,$lat)")
    }
    // 5) secant property: the point scale k = k0 at the CM and back to
    //    ~1.0 near ±180 km easting offset (measure k by differencing)
    def scaleAt(lonDeg: Double, latDeg: Double): Double = {
      val d = 1e-4 // degrees
      val (e1m, n1m) = TransverseMercator.forward(33, south = false, lonDeg - d / 2, latDeg)
      val (e2m, n2m) = TransverseMercator.forward(33, south = false, lonDeg + d / 2, latDeg)
      val ground = math.toRadians(d) * math.cos(math.toRadians(latDeg)) *
        (a / math.sqrt(1 - e2 * math.pow(math.sin(math.toRadians(latDeg)), 2)))
      math.hypot(e2m - e1m, n2m - n1m) / ground
    }
    assert(math.abs(scaleAt(15.0, 0.0) - 0.9996) < 1e-6)
    // ~180 km east of the CM at the equator: lon ≈ 15 + 1.616°
    assert(math.abs(scaleAt(16.616, 0.0) - 1.0) < 2e-4)
    // 6) grid convergence: north of the equator, a northward step east of
    //    the CM leans WEST in grid coords (negative d-easting)
    val (eA, nA) = TransverseMercator.forward(33, south = false, 17.0, 50.0)
    val (eB, nB) = TransverseMercator.forward(33, south = false, 17.0, 50.01)
    assert(eB < eA && nB > nA, "convergence sign")
  }

  test("UTM warp: a UTM-grid tile assembles into a 4326 mosaic correctly") {
    import graft.raster.GtiMosaic.TransverseMercator
    // Mosaic: EPSG:4326 over lon [14,16] x lat [49,51], res 0.5 -> 4x4.
    // Tile: UTM 33N grid (CM 15E) covering that box with margin; value =
    // row*12+col. Expected indices computed IN-TEST via the forward
    // transform for each mosaic cell center (validating the assembly
    // plumbing: envelope cover, per-pixel coupled warp, tiepoint math).
    val zone = 33
    val (eMin, eMax) = (TransverseMercator.forward(zone, false, 13.8, 49.0)._1 - 1000,
      TransverseMercator.forward(zone, false, 16.2, 49.0)._1 + 1000)
    val corners = for (lon <- Seq(13.8, 16.2); lat <- Seq(48.8, 51.2))
      yield TransverseMercator.forward(zone, false, lon, lat)._2
    val (nMin, nMax) = (corners.min - 1000, corners.max + 1000)
    val (w, h) = (12, 12)
    val (fresx, fresy) = ((eMax - eMin) / w, (nMax - nMin) / h)
    val vals = Array.tabulate(w * h)(_.toFloat)
    val fix = Files.createTempDirectory("graft-gti-utm").toString
    Files.write(Paths.get(fix, "u.tif"), GeoTiffWriter.write(w, h, Seq(vals),
      pixelScale = (fresx, fresy), tiepoint = (eMin, nMax),
      nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-utm-dst").toString
    val mMeta = GtiMosaic.Meta("Float32", Double.NaN,
      14.0, 49.0, 16.0, 51.0, 0.5, 0.5, 1, "nearest", "EPSG:4326")
    val index = Seq(("s3://mosaic.fixtures/u.tif", 13.8, 48.8, 16.2, 51.2, "EPSG:32633"))
      .toDF("location", "minx", "miny", "maxx", "maxy", "srs")
    GtiMosaic.write(index.coalesce(1), dst, mMeta)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val chunk = GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect()
    assert(chunk.length == 1)
    for (py <- 0 until 4; px <- 0 until 4) {
      val (lon, lat) = (14.0 + (px + 0.5) * 0.5, 51.0 - (py + 0.5) * 0.5)
      val (e, n) = TransverseMercator.forward(zone, false, lon, lat)
      val fc = math.floor((e - eMin) / fresx).toInt
      val fr = math.floor((nMax - n) / fresy).toInt
      assert(chunk.head.data(py * 4 + px) == (fr * w + fc).toFloat, s"($px,$py)")
    }
  }

  test("Lambert conformal conic: invariants + registered-warp assembly") {
    import graft.raster.GtiMosaic.LambertConformal
    // Lambert-93 parameters (RGF93 / France, public EPSG:2154 definition)
    val l93 = LambertConformal(44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0)
    // origin maps to the false origin exactly
    assert(l93.forward(3.0, 46.5) == ((700000.0, 6600000.0)))
    // roundtrip across the zone of use
    for (lon <- Seq(-4.0, 0.0, 3.0, 7.5); lat <- Seq(41.5, 44.0, 46.5, 49.0, 51.0)) {
      val (e, n) = l93.forward(lon, lat)
      val (lon2, lat2) = l93.inverse(e, n)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
        s"roundtrip ($lon,$lat)")
    }
    // secant-cone scale: k = 1 on both standard parallels, < 1 between,
    // > 1 outside (measured by differencing along a parallel)
    val a = 6378137.0; val f = 1.0 / 298.257223563; val e2 = f * (2 - f)
    def k(lat: Double): Double = {
      val d = 1e-5
      val (x1, y1) = l93.forward(3.0 - d / 2, lat)
      val (x2, y2) = l93.forward(3.0 + d / 2, lat)
      val nu = a / math.sqrt(1 - e2 * math.pow(math.sin(math.toRadians(lat)), 2))
      math.hypot(x2 - x1, y2 - y1) /
        (math.toRadians(d) * math.cos(math.toRadians(lat)) * nu)
    }
    assert(math.abs(k(44.0) - 1.0) < 1e-6 && math.abs(k(49.0) - 1.0) < 1e-6)
    assert(k(46.5) < 1.0 && k(41.0) > 1.0 && k(52.0) > 1.0)
    // assembly: an LCC-grid tile in a 4326 mosaic via an EXPLICIT warp
    // registration (no EPSG auto-resolution for LCC)
    val (w, h) = (10, 10)
    val cs = for (lon <- Seq(1.8, 6.2); lat <- Seq(44.8, 48.2)) yield l93.forward(lon, lat)
    val (eMin, eMax) = (cs.map(_._1).min - 500, cs.map(_._1).max + 500)
    val (nMin, nMax) = (cs.map(_._2).min - 500, cs.map(_._2).max + 500)
    val (fresx, fresy) = ((eMax - eMin) / w, (nMax - nMin) / h)
    val fix = Files.createTempDirectory("graft-gti-lcc").toString
    Files.write(Paths.get(fix, "l.tif"), GeoTiffWriter.write(w, h,
      Seq(Array.tabulate(w * h)(_.toFloat)),
      pixelScale = (fresx, fresy), tiepoint = (eMin, nMax),
      nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-lcc-dst").toString
    val mMeta = GtiMosaic.Meta("Float32", Double.NaN,
      2.0, 45.0, 6.0, 48.0, 1.0, 1.0, 1, "nearest", "EPSG:4326")
    val index = Seq(("s3://mosaic.fixtures/l.tif", 1.8, 44.8, 6.2, 48.2, "EPSG:2154"))
      .toDF("location", "minx", "miny", "maxx", "maxy", "srs")
    GtiMosaic.write(index.coalesce(1), dst, mMeta)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    // EPSG:2154 is in the built-in LCC gallery: NO registration needed —
    // the gallery warp must agree with the locally-constructed l93
    // (gallery lists parallels (49,44); the cone constant is symmetric)
    val galleryChunks = GtiMosaic.assemble(spark, dst, 0, 4)(localize)
      .collect().map(r => (r.cy, r.cx) -> r.data).toMap
    val chunks = GtiMosaic.assemble(spark, dst, 0, 4,
        warps = Map(("EPSG:2154", "EPSG:4326") -> l93.fromGeo))(localize)
      .collect().map(r => (r.cy, r.cx) -> r.data).toMap
    // Arrays.equals: NaN-safe (bit-pattern) compare — chunks carry NaN pad
    assert(galleryChunks.keySet == chunks.keySet &&
      galleryChunks.forall { case (k, v) => java.util.Arrays.equals(v, chunks(k)) },
      "gallery auto-resolved warp must equal the explicit registration")
    for (py <- 0 until 3; px <- 0 until 4) {
      val (lon, lat) = (2.0 + (px + 0.5) * 1.0, 48.0 - (py + 0.5) * 1.0)
      val (e, n) = l93.forward(lon, lat)
      val fc = math.floor((e - eMin) / fresx).toInt
      val fr = math.floor((nMax - n) / fresy).toInt
      val got = chunks((py / 4, px / 4))((py % 4) * 4 + (px % 4))
      assert(got == (fr * w + fc).toFloat, s"($px,$py)")
    }
  }

  test("warp gallery: LCC origins, cross-pair composition, unknown fails fast") {
    import graft.raster.GtiMosaic.GridWarp
    // projection origin maps to the false origin EXACTLY by definition
    for ((srs, lon0, lat0, fe, fn) <- Seq(
        ("EPSG:2154", 3.0, 46.5, 700000.0, 6600000.0),
        ("EPSG:3034", 10.0, 52.0, 4000000.0, 2800000.0),
        ("EPSG:3347", -91.866667, 63.390675, 6200000.0, 3000000.0),
        ("EPSG:3978", -95.0, 49.0, 0.0, 0.0))) {
      val warp = GridWarp.standard(srs, "EPSG:4326")
        .getOrElse(fail(s"$srs not in gallery"))
      val (e, n) = warp.toFile(lon0, lat0)
      assert(math.abs(e - fe) < 1e-6 && math.abs(n - fn) < 1e-6, srs)
      // and the reverse direction round-trips through lon/lat
      val back = GridWarp.standard("EPSG:4326", srs)
        .getOrElse(fail(s"$srs reverse missing")).toFile(e, n)
      assert(math.abs(back._1 - lon0) < 1e-9 && math.abs(back._2 - lat0) < 1e-9, srs)
    }
    // cross-pair composition: Lambert-93 tiles in a WEB-MERCATOR mosaic —
    // mosaic(3857) → lon/lat → file(2154), no registration
    val composed = GridWarp.standard("EPSG:2154", "EPSG:3857")
      .getOrElse(fail("2154<-3857 composition missing"))
    val geo = GridWarp.standard("EPSG:2154", "EPSG:4326").get
    val lonLat = (2.3522, 48.8566)
    // build the 3857 coordinate of the test point directly (sphere formula)
    val webX = 6378137.0 * math.toRadians(lonLat._1)
    val webY = 6378137.0 * math.log(math.tan(math.Pi / 4 + math.toRadians(lonLat._2) / 2))
    val viaComposed = composed.toFile(webX, webY)
    val viaGeo = geo.toFile(lonLat._1, lonLat._2)
    assert(math.abs(viaComposed._1 - viaGeo._1) < 1e-6 &&
      math.abs(viaComposed._2 - viaGeo._2) < 1e-6)
    // UTM cross LCC also composes (file UTM 31N, mosaic Lambert-93)
    assert(GridWarp.standard("EPSG:32631", "EPSG:2154").isDefined)
    // unknown CRS still fails fast (no silent identity)
    assert(GridWarp.standard("EPSG:27700", "EPSG:4326").isEmpty)
    assert(GridWarp.standard("EPSG:4326", "EPSG:27700").isEmpty)
  }

  test("assembly reads the matching COG overview level for coarse targets") {
    val fix = Files.createTempDirectory("graft-gti-ovr").toString
    // 8x8 file, values y*8+x, with a 4x4 level-1 overview (tileSize=4)
    val full = Array.tabulate(64)(_.toFloat)
    Files.write(Paths.get(fix, "ovr.tif"), GeoTiffWriter.write(8, 8, Seq(full),
      tileSize = 4, pixelScale = (1.0, 1.0), tiepoint = (0.0, 8.0),
      nodata = Some(Double.NaN), overviews = true))
    // mosaic at res 2 (coarser than the file): level 1 (stride 2) is the
    // coarsest page still at-or-finer than the target -> even-index picks
    val dst = Files.createTempDirectory("graft-gti-ovr-dst").toString
    val m2 = GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 8.0, 8.0,
      2.0, 2.0, 1, "nearest", "EPSG:4326")
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/ovr.tif", 0.0, 0.0, 8.0, 8.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"), dst, m2)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val chunk = GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect().head.data
    val fromLevel1 = Array.tabulate(16)(i => full((2 * (i / 4)) * 8 + 2 * (i % 4)))
    assert(chunk.toSeq == fromLevel1.toSeq,
      s"expected level-1 (even-index) picks, got ${chunk.toSeq}")
    // a full-res mosaic (res 1) over the same tile still reads level 0
    val dstF = Files.createTempDirectory("graft-gti-ovr-full").toString
    val m1 = m2.copy(resx = 1.0, resy = 1.0)
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/ovr.tif", 0.0, 0.0, 8.0, 8.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"), dstF, m1)
    val fullBack = GtiMosaic.assemble(spark, dstF, 0, 8)(localize).collect().head.data
    assert(fullBack.toSeq == full.toSeq)
    // res OVERRIDE at open (build_gti_xarray's xres/yres): the res-1
    // manifest assembled at res 2 equals the native res-2 assembly
    val overridden = GtiMosaic.assemble(spark, dstF, 0, 4,
      resOverride = Some((2.0, 2.0)))(localize).collect().head.data
    assert(overridden.toSeq == fromLevel1.toSeq)
  }

  test("average resampling honors manifest RESAMPLING metadata (reference default)") {
    val fix = Files.createTempDirectory("graft-gti-avg").toString
    // res-1 8x8 file, values y*8+x except a NaN at (0,0); no overviews so
    // the box average is computed over true full-res pixels
    val full = Array.tabulate(64)(i => if (i == 0) Float.NaN else i.toFloat)
    Files.write(Paths.get(fix, "avg.tif"), GeoTiffWriter.write(8, 8, Seq(full),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 8.0), nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-avg-dst").toString
    val mAvg = GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 8.0, 8.0,
      2.0, 2.0, 1, "average", "EPSG:4326")
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/avg.tif", 0.0, 0.0, 8.0, 8.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"), dst, mAvg)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val got = GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect().head.data
    // each res-2 cell = mean of its 2x2 res-1 block, NaN excluded
    for (py <- 0 until 4; px <- 0 until 4) {
      val vals = for {
        dy <- 0 to 1; dx <- 0 to 1
        v = full((py * 2 + dy) * 8 + px * 2 + dx) if !v.isNaN
      } yield v.toDouble
      val want = (vals.sum / vals.size).toFloat
      assert(math.abs(got(py * 4 + px) - want) < 1e-5,
        s"cell ($py,$px): got ${got(py * 4 + px)} want $want")
    }
    // nearest metadata on the same file still picks single pixels
    val dstN = Files.createTempDirectory("graft-gti-avg-n").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/avg.tif", 0.0, 0.0, 8.0, 8.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstN, mAvg.copy(resampling = "nearest"))
    val near = GtiMosaic.assemble(spark, dstN, 0, 4)(localize).collect().head.data
    assert(near(1) == full(1 * 8 + 3)) // cell (0,1): center (3, 7) -> pixel (1,3)
  }

  test("warp from a datum'd aeqd tile: ellipsoidal geodesic CRS resolves with no registration") {
    val fix = Files.createTempDirectory("graft-gti-aeqd").toString
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    // 8x8 file on an ellipsoidal aeqd grid centered (2E, 48N), res 1000 m,
    // spanning ±4 km; value = row*8+col so nearest-warp placement is exact
    val srs = "+proj=aeqd +lat_0=48 +lon_0=2 +datum=WGS84 +units=m +no_defs"
    val full = Array.tabulate(64)(_.toFloat)
    Files.write(Paths.get(fix, "ae.tif"), GeoTiffWriter.write(8, 8, Seq(full),
      pixelScale = (1000.0, 1000.0), tiepoint = (-4000.0, 4000.0),
      nodata = Some(Double.NaN)))
    val dst = Files.createTempDirectory("graft-gti-aeqd-dst").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/ae.tif", 1.95, 47.96, 2.05, 48.04, srs))
        .toDF("location", "minx", "miny", "maxx", "maxy", "srs"),
      dst, GtiMosaic.Meta("Float32", Double.NaN, 1.95, 47.96, 2.05, 48.04,
        0.01, 0.01, 1, "nearest", "EPSG:4326"))
    val got = GtiMosaic.assemble(spark, dst, 0, 16)(localize).collect()
      .filter(_.cx == 0).head.data
    val proj = graft.raster.Proj4.parse(srs).getOrElse(fail("aeqd parse"))
    var checked = 0
    for (py <- 0 until 8; px <- 0 until 10) {
      val lon = 1.95 + (px + 0.5) * 0.01
      val lat = 48.04 - (py + 0.5) * 0.01
      val (fx, fy) = proj.forward(lon, lat)
      val col = math.floor((fx + 4000.0) / 1000.0).toInt
      val row = math.floor((4000.0 - fy) / 1000.0).toInt
      if (col >= 0 && col < 8 && row >= 0 && row < 8) {
        assert(got(py * 16 + px) == full(row * 8 + col),
          s"aeqd warp ($py,$px): got ${got(py * 16 + px)} want ${full(row * 8 + col)}")
        checked += 1
      }
    }
    assert(checked > 40, s"only $checked cells inside the tile")
  }

  test("lanczos/mode/min/max resampling: hand-computed kernel and footprint cases") {
    val fix = Files.createTempDirectory("graft-gti-lmx").toString
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString

    // LANCZOS at res 1 aligned with the file: every target center hits a
    // pixel center, sinc(integer) = 0 everywhere but the center tap → exact
    val full = Array.tabulate(36)(i => (i * 3 % 17).toFloat)
    Files.write(Paths.get(fix, "lz.tif"), GeoTiffWriter.write(6, 6, Seq(full),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 6.0), nodata = Some(Double.NaN)))
    val dstL = Files.createTempDirectory("graft-gti-lz").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lz.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstL, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        1.0, 1.0, 1, "lanczos", "EPSG:4326"))
    val gotL = GtiMosaic.assemble(spark, dstL, 0, 6)(localize).collect().head.data
    // exact up to fp noise: sample positions carry ~1 ulp of affine
    // arithmetic, and sinc(k ± 1e-16) is ~1e-16, not exactly 0
    gotL.zip(full).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-5, s"lanczos aligned px $i: $g vs $w")
    }

    // LANCZOS at res 0.5: hand-computed windowed-sinc sum over the 6x6
    // support at one interior sample, renormalized over in-bounds taps
    val dstL2 = Files.createTempDirectory("graft-gti-lz2").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lz.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstL2, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        0.5, 0.5, 1, "lanczos", "EPSG:4326"))
    val gotL2 = GtiMosaic.assemble(spark, dstL2, 0, 12)(localize)
      .collect().head.data
    def sinc(t: Double) =
      if (t == 0.0) 1.0 else math.sin(math.Pi * t) / (math.Pi * t)
    def lz(t: Double) = if (math.abs(t) < 3.0) sinc(t) * sinc(t / 3.0) else 0.0
    locally { // target cell (py=6, px=7): center gx=3.25, gy=2.75
      val (gx, gy) = (0.5 * 7 - 0.25, 0.5 * 6 - 0.25)
      var s = 0.0; var w = 0.0
      for (r <- math.floor(gy).toInt - 2 to math.floor(gy).toInt + 3;
           c <- math.floor(gx).toInt - 2 to math.floor(gx).toInt + 3
           if r >= 0 && r < 6 && c >= 0 && c < 6) {
        val wt = lz(gy - r) * lz(gx - c)
        s += wt * full(r * 6 + c); w += wt
      }
      assert(math.abs(gotL2(6 * 12 + 7) - s / w) < 1e-4,
        s"lanczos (6,7): got ${gotL2(6 * 12 + 7)} want ${s / w}")
    }

    // MODE/MIN/MAX at res 2 over an 8x8 file: per-2x2-block statistics;
    // block (0,0) has a 2-2 frequency tie -> smallest value wins; block
    // (0,1) has a NaN that must be excluded
    val blocks = new Array[Float](64)
    def setBlock(by: Int, bx: Int, vs: (Float, Float, Float, Float)): Unit = {
      blocks((by * 2) * 8 + bx * 2) = vs._1
      blocks((by * 2) * 8 + bx * 2 + 1) = vs._2
      blocks((by * 2 + 1) * 8 + bx * 2) = vs._3
      blocks((by * 2 + 1) * 8 + bx * 2 + 1) = vs._4
    }
    for (by <- 0 until 4; bx <- 0 until 4) setBlock(by, bx, (9f, 9f, 4f, 9f))
    setBlock(0, 0, (5f, 5f, 3f, 3f))       // tie 2-2 -> 3
    setBlock(0, 1, (Float.NaN, 7f, 7f, 2f)) // NaN out -> mode 7, min 2, max 7
    setBlock(1, 2, (8f, 1f, 8f, 8f))       // mode 8, min 1, max 8
    Files.write(Paths.get(fix, "blk.tif"), GeoTiffWriter.write(8, 8, Seq(blocks),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 8.0), nodata = Some(Double.NaN)))
    def assembleAs(res: String): Array[Float] = {
      val dst = Files.createTempDirectory(s"graft-gti-$res").toString
      GtiMosaic.write(
        Seq(("s3://mosaic.fixtures/blk.tif", 0.0, 0.0, 8.0, 8.0))
          .toDF("location", "minx", "miny", "maxx", "maxy"),
        dst, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 8.0, 8.0,
          2.0, 2.0, 1, res, "EPSG:4326"))
      GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect().head.data
    }
    val gotM = assembleAs("mode")
    assert(gotM(0) == 3f, s"mode tie: ${gotM(0)}")      // block (0,0)
    assert(gotM(1) == 7f, s"mode NaN-excl: ${gotM(1)}") // block (0,1)
    assert(gotM(1 * 4 + 2) == 8f)                       // block (1,2)
    assert(gotM(3 * 4 + 3) == 9f)                       // default block
    val gotMin = assembleAs("min")
    assert(gotMin(0) == 3f && gotMin(1) == 2f &&
      gotMin(1 * 4 + 2) == 1f && gotMin(3 * 4 + 3) == 4f)
    val gotMax = assembleAs("max")
    assert(gotMax(0) == 5f && gotMax(1) == 7f &&
      gotMax(1 * 4 + 2) == 8f && gotMax(3 * 4 + 3) == 9f)
  }

  test("bilinear/cubic resampling: linear-field reproduction, hand-computed values") {
    val fix = Files.createTempDirectory("graft-gti-bil").toString
    // 6x6 res-1 file, v = 6y + x — BILINEAR in pixel coords, so bilinear
    // resampling must reproduce it exactly at any interior sample point,
    // and Catmull-Rom cubic (linear precision) likewise
    val full = Array.tabulate(36)(i => i.toFloat)
    Files.write(Paths.get(fix, "lin.tif"), GeoTiffWriter.write(6, 6, Seq(full),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 6.0), nodata = Some(Double.NaN)))
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    def clamp(v: Double) = math.max(0.0, math.min(5.0, v))

    // bilinear at res 0.5 (finer target): expected 6*gy + gx with
    // edge-renormalization clamping each axis to the boundary column/row
    val dstB = Files.createTempDirectory("graft-gti-bil-b").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lin.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstB, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        0.5, 0.5, 1, "bilinear", "EPSG:4326"))
    val gotB = GtiMosaic.assemble(spark, dstB, 0, 12)(localize)
      .collect().head.data
    for (py <- 0 until 12; px <- 0 until 12) {
      val gx = 0.5 * px - 0.25
      val gy = 0.5 * py - 0.25
      val want = (6 * clamp(gy) + clamp(gx)).toFloat
      assert(math.abs(gotB(py * 12 + px) - want) < 1e-4,
        s"bilinear ($py,$px): got ${gotB(py * 12 + px)} want $want")
    }

    // cubic at res 1 aligned with the file: every target center hits a
    // pixel center, Catmull-Rom weights collapse to (0,1,0,0) → exact
    val dstC = Files.createTempDirectory("graft-gti-bil-c").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lin.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstC, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        1.0, 1.0, 1, "cubic", "EPSG:4326"))
    val gotC = GtiMosaic.assemble(spark, dstC, 0, 6)(localize)
      .collect().head.data
    assert(gotC.toSeq == full.toSeq)

    // cubic at res 0.5, full-support interior: linear precision → 6gy+gx
    val dstC2 = Files.createTempDirectory("graft-gti-bil-c2").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lin.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstC2, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        0.5, 0.5, 1, "cubic", "EPSG:4326"))
    val gotC2 = GtiMosaic.assemble(spark, dstC2, 0, 12)(localize)
      .collect().head.data
    for (py <- 3 to 8; px <- 3 to 8) {
      val gx = 0.5 * px - 0.25
      val gy = 0.5 * py - 0.25
      val want = (6 * gy + gx).toFloat
      assert(math.abs(gotC2(py * 12 + px) - want) < 1e-4,
        s"cubic ($py,$px): got ${gotC2(py * 12 + px)} want $want")
    }

    // nodata renormalization: NaN at pixel (2,2); the res-0.5 bilinear
    // cell whose center sits at gx=1.75, gy=2.25 weights pixels
    // (2,1),(2,2),(3,1),(3,2) — the NaN tap drops and the rest renorm
    val holey = full.clone(); holey(2 * 6 + 2) = Float.NaN
    Files.write(Paths.get(fix, "hole.tif"), GeoTiffWriter.write(6, 6, Seq(holey),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 6.0), nodata = Some(Double.NaN)))
    val dstH = Files.createTempDirectory("graft-gti-bil-h").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/hole.tif", 0.0, 0.0, 6.0, 6.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dstH, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 6.0, 6.0,
        0.5, 0.5, 1, "bilinear", "EPSG:4326"))
    val gotH = GtiMosaic.assemble(spark, dstH, 0, 12)(localize)
      .collect().head.data
    locally { // px=4,py=5 → gx=1.75 (wx: col1=0.25, col2=0.75),
      //                     gy=2.25 (wy: row2=0.75, row3=0.25)
      val taps = Seq((2, 1, 0.75 * 0.25), (2, 2, 0.75 * 0.75),
        (3, 1, 0.25 * 0.25), (3, 2, 0.25 * 0.75))
        .filterNot { case (r, c, _) => holey(r * 6 + c).isNaN }
      val want = (taps.map { case (r, c, w) => w * holey(r * 6 + c) }.sum /
        taps.map(_._3).sum).toFloat
      assert(math.abs(gotH(5 * 12 + 4) - want) < 1e-4,
        s"nodata renorm: got ${gotH(5 * 12 + 4)} want $want")
    }

    // warped grid: file CRS = half-scale affine (mosaic = 2 × file);
    // bilinear through the warp still reproduces the linear field
    val dstW = Files.createTempDirectory("graft-gti-bil-w").toString
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/lin.tif", 0.0, 0.0, 12.0, 12.0, "local:half"))
        .toDF("location", "minx", "miny", "maxx", "maxy", "srs"),
      dstW, GtiMosaic.Meta("Float32", Double.NaN, 0.0, 0.0, 12.0, 12.0,
        1.0, 1.0, 1, "bilinear", "EPSG:4326"))
    // Affine: mosaic = ax·file + bx ⇒ (2,0) makes file = 0.5 × mosaic
    val warps = Map(("local:half", "EPSG:4326") ->
      GtiMosaic.Affine(2.0, 0.0, 2.0, 0.0))
    val gotW = GtiMosaic.assemble(spark, dstW, 0, 12, warps = warps)(localize)
      .collect().head.data
    for (py <- 0 until 12; px <- 0 until 12) {
      val gx = 0.5 * (px + 0.5) - 0.5
      val gy = 0.5 * (py + 0.5) - 0.5
      val want = (6 * clamp(gy) + clamp(gx)).toFloat
      assert(math.abs(gotW(py * 12 + px) - want) < 1e-4,
        s"warped bilinear ($py,$px): got ${gotW(py * 12 + px)} want $want")
    }
  }

  test("assembly: multiband tiles and numeric (non-NaN) nodata semantics") {
    val fix = Files.createTempDirectory("graft-gti-mb").toString
    // one 4x4 two-band tile at (0,10); band 1 uses numeric nodata -99:
    // cells where band1 == -99 must stay at the mosaic fill (NaN)
    val b0 = Array.tabulate(16)(i => 10f + i)
    val b1 = Array.tabulate(16)(i => if (i % 2 == 0) -99f else 50f + i)
    Files.write(Paths.get(fix, "mb.tif"), GeoTiffWriter.write(4, 4, Seq(b0, b1),
      pixelScale = (1.0, 1.0), tiepoint = (0.0, 10.0), nodata = Some(-99.0)))
    val dst = Files.createTempDirectory("graft-gti-mb-dst").toString
    val meta2 = meta.copy(maxx = 4.0, miny = 6.0, bandCount = 2, nodata = -99.0)
    GtiMosaic.write(
      Seq(("s3://mosaic.fixtures/mb.tif", 0.0, 6.0, 4.0, 10.0))
        .toDF("location", "minx", "miny", "maxx", "maxy"),
      dst, meta2)
    val localize = (loc: String) => Paths.get(fix, loc.split('/').last).toString
    val band0 = GtiMosaic.assemble(spark, dst, 0, 4)(localize).collect().head.data
    assert(band0.toSeq == b0.toSeq)
    val band1 = GtiMosaic.assemble(spark, dst, 1, 4)(localize).collect().head.data
    b1.zip(band1).foreach { case (src, got) =>
      if (src == -99f) assert(got.isNaN, s"nodata $src must not land")
      else assert(got == src)
    }
  }
}
