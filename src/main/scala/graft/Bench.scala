package graft

import java.nio.file.Paths

/** The bench face, over [[Harness]]. The session reads the
  * `SPARK_GRAFT_SF_DIR` tables.
  *
  *   graft.Bench                              full sweep: one
  *       `{"metric"...}` line on stdout, also written to
  *       `SPARK_GRAFT_BENCH_OUT` (default `bench_times.json`)
  *   graft.Bench <face>...                    the same per-face procedure
  *       and line for the named faces; writes no file
  *   graft.Bench plans <outDir> <tag> [face...]   each face's formatted
  *       plan to `<outDir>/<face>_<tag>.txt`, one summary line per face
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_times.json"))
    val spark = Harness.session()
    try args.toList match {
      case "plans" :: outDir :: tag :: faces =>
        Harness.plans(spark, sfDir, outDir, tag, faces).foreach(println)
      case "plans" :: _ =>
        throw new IllegalArgumentException("usage: graft.Bench plans <outDir> <tag> [face...]")
      case faces => println(Harness.bench(spark, sfDir, out, faces))
    } finally spark.stop()
  }
}
