package graft.tools

/** Cold-build timing for the dedup artifact family:
  * `runMain graft.tools.DedupBuildBench <sfDir> <combined|individual>`.
  * Uses a fresh artifacts root so every build is cold; prints per-step
  * and total seconds. Feeds the SURVEY §8 combined-vs-sum comparison. */
object DedupBuildBench {
  def main(a: Array[String]): Unit = {
    val d = a(0); val mode = a(1)
    val root = java.nio.file.Files.createTempDirectory("graft-dbb")
    sys.props("graft.artifacts.dir") = root.toString
    val s = graft.GraftSession.create()
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[dedupbench] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    import graft.text._
    time(s"$mode total") {
      if (mode == "combined") DedupIndexes.buildAll(s, d)
      else {
        time("bands")(BandIndex.load(s, d).count())
        time("pairs")(PairIndex.load(s, d).count())
        time("postings")(PostingIndex.load(s, d).count())
        time("labels")(ClusterIndex.load(s, d).count())
      }
    }
    s.stop()
    graft.etl.Commit.deleteRecursively(root)
  }
}
