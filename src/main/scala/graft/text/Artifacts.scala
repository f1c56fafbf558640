package graft.text

import java.nio.file.{Files, Path, Paths}

import graft.etl.Commit

/** Shared recipe for materialized derived-data artifacts (the overlap
  * index, the minhash pair set, the duplicate-cluster labels): a
  * corpus-scale build pays its exchange ONCE per dataset, every later
  * consumer — across queries AND sessions — reads parquet instead.
  *
  * Two pieces, factored here so every artifact behaves identically:
  *
  *   1. '''Content-addressed keying.''' [[datasetKey]] fingerprints the
  *      input table from each data file's (relative name, size, md5 of
  *      the trailing 64 KiB). The tail of a parquet file is its footer
  *      — row-group offsets, column statistics, schema — so ANY
  *      parquet-level rewrite of the data changes the key, while
  *      copying, restoring, or `touch`-ing the same bytes does NOT
  *      (mtimes are deliberately excluded: object stores rewrite them
  *      on copy/restore, and a fingerprint that churns on copy defeats
  *      the artifact). Out of contract: byte-surgery inside a row
  *      group that leaves the footer intact — no engine-level check
  *      catches that without hashing every byte of a 100 TB input.
  *
  *   2. '''Atomic build-once materialization.''' [[materialize]]
  *      publishes through [[graft.etl.Commit]]: a crashed build is
  *      invisible, and a concurrent reader either sees the complete
  *      artifact or builds its own. Losing the race is SUCCESS — the
  *      winner's artifact is byte-equivalent by construction.
  *
  * On a cluster the artifact root would live next to the curated
  * dataset (derived data, rebuilt by deleting the dir); here it keys
  * on content under java.io.tmpdir, overridable for tests via
  * `-Dgraft.artifacts.dir`.
  */
object Artifacts {

  /** Root for materialized artifacts; overridable for tests. */
  def root: Path = Paths.get(
    sys.props.getOrElse("graft.artifacts.dir",
      sys.props("java.io.tmpdir") + "/graft-artifacts"))

  /** Content fingerprint of `table` under dataset dir `d` (see class
    * doc for the exact contract). Identical bytes → identical key, at
    * any path, any mtime. */
  def datasetKey(d: String, table: String = "documents.parquet"): String = {
    val dir = Paths.get(d).toAbsolutePath.normalize.resolve(table)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(table.getBytes("UTF-8"))
    if (Files.exists(dir)) {
      val stream = Files.walk(dir)
      try stream.sorted().forEach { p =>
        if (Files.isRegularFile(p)) {
          val size = Files.size(p)
          md.update(s"|${dir.relativize(p)}:$size:".getBytes("UTF-8"))
          val ch = java.nio.channels.FileChannel.open(p)
          try {
            val tail = math.min(size, 65536L)
            val buf = java.nio.ByteBuffer.allocate(tail.toInt)
            ch.position(size - tail)
            while (buf.hasRemaining && ch.read(buf) >= 0) {}
            buf.flip()
            md.update(buf)
          } finally ch.close()
        }
      } finally stream.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Directory for one named artifact of one dataset. */
  def dir(d: String, name: String, table: String = "documents.parquet"): Path =
    root.resolve(datasetKey(d, table)).resolve(name)

  /** [[dir]] for an artifact derived from MULTIPLE input tables (e.g.
    * the fulfillment graph = lineitem ⋈ orders): the key folds the
    * per-table content keys in order, so a parquet-level rewrite of
    * ANY input rebuilds and byte-identical copies reuse. */
  def dirMulti(d: String, name: String, tables: Seq[String]): Path = {
    val md = java.security.MessageDigest.getInstance("MD5")
    tables.foreach(t => md.update(datasetKey(d, t).getBytes("UTF-8")))
    root.resolve(md.digest().map("%02x".format(_)).mkString).resolve(name)
  }

  // same-JVM builders of the same artifact serialize here instead of
  // racing the filesystem (Verify runs 4 queries concurrently, and
  // e.g. q82 and q108 both demand the pair set); cross-process races
  // are handled by Commit.claimOnce
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Ensure `target` exists: build it into staging via `build`, then
    * [[graft.etl.Commit.claimOnce]] it. No-op when the artifact already
    * exists; losing a concurrent race keeps the winner's artifact. */
  def materialize(target: Path)(build: Path => Unit): Unit = {
    val lock = locks.computeIfAbsent(target.toString, _ => new Object)
    lock.synchronized {
      if (Files.isDirectory(target)) return
      Commit.recover(target.getParent)
      val tmp = Commit.stage(target.getParent)
      build(tmp)
      Commit.claimOnce(target, tmp)
    }
  }
}
