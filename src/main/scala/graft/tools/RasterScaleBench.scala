package graft.tools

/** Raster-path scale bench (VERDICT r13 item 4): the E2→E3→E1 mosaic
  * pipeline at 110 / 1,024 / 10,000 one-degree tiles — the §2 core
  * (S2/S3/S8/S9 + O8 region planning) measured beyond the single
  * 110-tile bench row, so the raster surface has a growth curve like
  * every tabular family.
  *
  * Per size: a fresh store, end-to-end wall time (the Bench row's
  * contract: run → cube.count), plus stage attribution re-running the
  * lazy phases independently (E2 scene generation, E3 stack+reduce,
  * E1 chunk write fan-out) and the write audit the verdict asked for —
  * regions planned (driver-side by design, a few thousand rows) vs
  * chunk files written by the distributed foreachPartition pass, to
  * confirm the fan-out is carried by the Dataset, not a driver loop. */
object RasterScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()

    // ~square envelopes: 10×11=110 (the committed bench row), 32×32=1024,
    // 100×100=10000 tiles
    val sizes = Seq(
      ("110", graft.model.Envelope(-5.5, 40.2, 4.3, 50.8)),
      ("1024", graft.model.Envelope(-16.0, 18.0, 16.0, 50.0)),
      ("10000", graft.model.Envelope(-50.0, -25.0, 50.0, 75.0)))
    val wanted = args.headOption.map(_.split(",").toSet)
      .getOrElse(Set("110", "1024", "10000"))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // JVM/codegen warmup so the first size isn't charged for it (the
    // committed 110-tile Bench row is min-of-two for the same reason)
    {
      val store = java.nio.file.Files
        .createTempDirectory("graft_raster_warm").toString
      val cfg = graft.pipelines.MosaicPipeline.Config(
        graft.model.Envelope(0.2, 0.2, 1.8, 1.8),
        Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")),
        graft.model.AnnualMeanDataset, store, chunkPx = 16)
      graft.pipelines.MosaicPipeline.run(spark, cfg)._1.count()
      graft.Harness.release(spark)
    }

    for ((label, env) <- sizes if wanted(label)) {
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_raster_scale_$label").toString
      val cfg = graft.pipelines.MosaicPipeline.Config(
        env, Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")),
        graft.model.AnnualMeanDataset, store, chunkPx = 16)

      // end-to-end first (the honest number: one lazy program, stages
      // overlap exactly as the Bench row runs them)
      val ((cube, gridDef, regions), total) = time {
        val r = graft.pipelines.MosaicPipeline.run(spark, cfg)
        r._1.count()
        r
      }
      // store read-back in isolation (fresh plan → per-file stat + zlib
      // inflate of every chunk): the component of `total` the stage
      // attribution below cannot see
      val (nChunks, tRead) = time(cube.count())

      // stage attribution (each phase forced independently — re-runs the
      // upstream lineage, so these overlap; they locate cost, the total
      // above is the pipeline number)
      val grid = graft.geo.Envelopes.tileGrid(spark, env)
      import spark.implicits._
      val noExisting = Seq.empty[String].toDF("url")
      val scenes = graft.pipelines.MosaicPipeline
        .ingestScenes(spark, cfg, grid, noExisting)
      val (nScenes, tScenes) = time(scenes.count())
      val features = graft.pipelines.MosaicPipeline
        .buildFeatures(spark, cfg, grid, scenes)
      val (nFeatures, tFeatures) = time(features.count())
      // E1 in isolation: a second fresh store fed by the same lazy
      // features (its time includes one features recompute — subtract
      // tFeatures for the write-stage share)
      val store2 = java.nio.file.Files
        .createTempDirectory(s"graft_raster_w_$label").toString
      val cfg2 = cfg.copy(storeRoot = store2)
      val (_, tWrite) = time {
        graft.pipelines.MosaicPipeline.buildMosaic(spark, cfg2, grid, features)
      }

      // write audit: files on disk vs regions planned
      val chunkFiles = {
        // Zarr v2 flat keys live directly under <store>/data
        val d = java.nio.file.Paths.get(store, "data")
        val alt = java.nio.file.Paths.get(store, "c")
        val dir = if (java.nio.file.Files.isDirectory(d)) d else alt
        if (java.nio.file.Files.isDirectory(dir)) {
          val s = java.nio.file.Files.walk(dir)
          try s.filter(java.nio.file.Files.isRegularFile(_)).count()
          finally s.close()
        } else -1L
      }
      println(f"[raster] tiles=$label%-6s total=$total%7.2f s  " +
        f"scenes=$nScenes%8d (${tScenes}%6.2f s)  " +
        f"features=$nFeatures%7d (${tFeatures}%6.2f s)  " +
        f"write=${tWrite}%6.2f s  readback=${tRead}%6.2f s  " +
        f"chunks=$nChunks%7d files=$chunkFiles%7d regions=${regions.size}%5d " +
        f"grid=${gridDef.nY}x${gridDef.nX}")
      graft.Harness.release(spark)
      // drop the scratch stores so 10k-tile runs don't accumulate disk
      for (st <- Seq(store, store2)) scala.util.Try {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(st))
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally s.close()
      }
    }
    spark.stop()
  }
}
