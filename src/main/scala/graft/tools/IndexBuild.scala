package graft.tools

/** The index-BUILD stage as a runnable job: force every memoized
  * artifact fit for a corpus snapshot (timed, like Bench's idx_* lines)
  * and export the frame-shaped ones as at-rest parquet + manifest via
  * [[graft.pipeline.IndexExport]]. This is the job SCALE.md's
  * architecture describes — a deployment runs it once per corpus
  * snapshot; every query/maintenance job then READS the artifacts
  * (in-JVM through Ivf.memoModel, cross-job through IndexExport.read,
  * per-wave through the StreamingJobs maintenance streams).
  *
  * Usage: runMain graft.tools.IndexBuild <sfDir> <outDir>
  */
object IndexBuild {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: IndexBuild <corpus snapshot dir> <index output dir>")
    val Array(sfDir, outDir) = args
    val spark = graft.Engine.session("graft-index-build")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // Force every fit through the same call paths the consumers use
      // (guaranteeing memo-cache keys match), timing each build.
      graft.pipeline.IndexArtifacts.builds.foreach { case (name, build) =>
        val t0 = System.nanoTime()
        build(spark, sfDir)
        println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      }
      // Materialize the frame-shaped artifacts at rest.
      val counts = graft.pipeline.IndexExport.write(spark, sfDir, outDir)
      counts.toSeq.sortBy(_._1).foreach { case (n, c) =>
        println(f"exported $n%-24s $c%8d rows")
      }
      println(s"manifest: $outDir/manifest.json")
    } finally spark.stop()
  }
}
