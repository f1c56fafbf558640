package graft.etl

import java.nio.file.{FileSystemException, Files, Path, Paths,
  StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every mutable store — this engine's
  * replacement for the reference's per-statement Postgres
  * transactions. A store never writes a live path in place; it
  * publishes through these calls:
  *
  *   - [[stage]]: new data is written under `.stage/` of the directory
  *     the store commits into — the same file store as the live data,
  *     so every later rename is a rename(2) and never a copy, and the
  *     dot hides it from parquet readers.
  *   - [[replaceFile]]: a sidecar is written to staging and renamed
  *     over the live file. It is never deleted first.
  *   - [[swap]]: a unit (one file or one directory: a table, a bucket,
  *     a version) is replaced by renaming the live copy aside to
  *     `.<name>.aside`, renaming the staged copy in, then dropping the
  *     aside. A staged copy that does not exist removes the unit;
  *     [[drop]] removes one without a replacement.
  *   - [[claim]]: a staged payload takes the next free `v<N>` by a
  *     no-clobber rename; the loser of a race takes the next number.
  *     [[claimOnce]] is the fixed-name variant (build-once artifacts:
  *     losing there means the winner's copy is already in place).
  *   - [[recover]]: a store's writer paths call it before they read.
  *     An aside whose live unit is missing is renamed back (the swap
  *     never happened); an aside beside its live unit is dropped (the
  *     swap finished); staging older than [[StaleStageMs]] is deleted
  *     (a younger entry may belong to an in-flight writer).
  *
  * So once recovered, every unit reads as exactly its before or its
  * after state whatever step a writer died at. Atomicity is per unit:
  * a call that commits several units (a bucketed merge, a LabelStore
  * fold) can be seen, or crash, with some units new and others old.
  *
  * Written against java.nio: `ATOMIC_MOVE` is rename(2), which refuses
  * to replace a non-empty directory — the no-clobber rule [[claim]]
  * relies on. Local and POSIX-mounted file systems only. */
object Commit {

  /** The one staging directory name, inside the directory a store
    * commits into. */
  val StageDir = ".stage"

  /** Staging younger than this may belong to an in-flight writer, so
    * [[recover]] leaves it alone. */
  val StaleStageMs: Long = 24L * 3600 * 1000

  /** Test seam: runs with the step's name immediately before each
    * filesystem mutation of a publish (`replace`, `swap.aside`,
    * `swap.in`, `swap.drop`, `claim`, `drop`). The crash-point spec
    * throws from here. No-op in production. */
  private[graft] var beforeStep: String => Unit = _ => ()

  /** A fresh staging path under `root/.stage/` (not created: Spark
    * writers and [[replaceFile]] create it). */
  def stage(root: Path): Path = {
    val d = root.resolve(StageDir)
    Files.createDirectories(d)
    d.resolve(java.util.UUID.randomUUID.toString)
  }

  /** Atomically replace the file `target` with `bytes`. */
  def replaceFile(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = stage(target.getParent)
    Files.write(tmp, bytes)
    beforeStep("replace")
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** [[replaceFile]] for a `java.util.Properties` sidecar. */
  def writeProps(target: Path, props: (String, String)*): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val out = new java.io.ByteArrayOutputStream()
    p.store(out, null)
    replaceFile(target, out.toByteArray)
  }

  /** A properties sidecar's entries; empty when the file is absent. */
  def readProps(target: Path): Map[String, String] =
    if (!Files.isRegularFile(target)) Map.empty
    else {
      val p = new java.util.Properties()
      val in = Files.newInputStream(target)
      try p.load(in) finally in.close()
      p.asScala.toMap
    }

  private[graft] def asideOf(live: Path): Path =
    live.resolveSibling("." + live.getFileName + ".aside")

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Replace the unit `live` with `staged` (a path from [[stage]] under
    * the same store). `staged` absent removes the unit. A failed
    * rename-in restores the old unit before rethrowing. */
  def swap(live: Path, staged: Path): Unit = {
    settle(live)
    val aside = asideOf(live)
    val hadLive = Files.exists(live)
    if (hadLive) { beforeStep("swap.aside"); move(live, aside) }
    if (Files.exists(staged)) {
      beforeStep("swap.in")
      Files.createDirectories(live.getParent)
      try move(staged, live)
      catch {
        case e: java.io.IOException =>
          if (hadLive) move(aside, live)
          throw e
      }
    }
    if (hadLive) { beforeStep("swap.drop"); deleteRecursively(aside) }
  }

  /** Remove the unit `unit` all at once: one rename into staging, then
    * the delete (a crash mid-delete leaves only staging behind). */
  def drop(unit: Path): Unit =
    if (Files.exists(unit)) {
      val dead = stage(unit.getParent)
      beforeStep("drop")
      move(unit, dead)
      deleteRecursively(dead)
    }

  /** Finish or undo an interrupted [[swap]] of `live`. */
  private def settle(live: Path): Unit = {
    val aside = asideOf(live)
    if (Files.exists(aside)) {
      if (Files.exists(live)) deleteRecursively(aside) else move(aside, live)
    }
  }

  /** Recover the directory `dir` after a crash: settle every aside in
    * it and sweep its stale staging. Idempotent; writer paths only — a
    * reader must never touch a writer's in-flight state. */
  def recover(dir: Path): Unit = {
    list(dir).map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".aside"))
      .foreach(n => settle(dir.resolve(n.stripPrefix(".")
        .stripSuffix(".aside"))))
    val cutoff = System.currentTimeMillis() - StaleStageMs
    list(dir.resolve(StageDir))
      .filter(Files.getLastModifiedTime(_).toMillis < cutoff)
      .foreach(deleteRecursively)
  }

  /** Move `staged` to `target` unless `target` already exists; true
    * when this call placed it. */
  private def tryMove(staged: Path, target: Path): Boolean =
    try { beforeStep("claim"); move(staged, target); true }
    catch {
      // FileAlreadyExists / DirectoryNotEmpty / AccessDenied or a bare
      // FileSystemException: all mean "lost the race" iff the target
      // is there now
      case e: FileSystemException =>
        if (Files.exists(target)) false else throw e
    }

  /** Publish a staged payload as the next `v<N>` under `root`; returns
    * the claimed version. */
  def claim(root: Path, staged: Path): Long = {
    var v = latestVersion(root) + 1
    while (!tryMove(staged, root.resolve("v" + v)))
      v = math.max(v, latestVersion(root)) + 1
    v
  }

  /** Publish a staged payload at the fixed name `target`; when another
    * writer got there first its copy stands and `staged` is deleted. */
  def claimOnce(target: Path, staged: Path): Unit = {
    Files.createDirectories(target.getParent)
    if (!tryMove(staged, target)) deleteRecursively(staged)
  }

  /** Publish `df` as the next `v<N>` under `dir`; returns the version.
    * For driver-bounded frames (threshold sets, ledgers) that
    * long-running readers re-read with [[loadLatest]]. */
  def publish(df: DataFrame, dir: String): Long = {
    val root = Paths.get(dir)
    val tmp = stage(root)
    df.write.mode("overwrite").parquet(tmp.toString)
    claim(root, tmp)
  }

  /** Read the highest-version publication. */
  def loadLatest(spark: SparkSession, dir: String): DataFrame = {
    val root = Paths.get(dir)
    val v = latestVersion(root)
    require(v > 0, s"no publication under $dir")
    spark.read.parquet(root.resolve("v" + v).toString)
  }

  /** Every published version number under `root` (unsorted). */
  def versions(root: Path): Seq[Long] =
    list(root).map(_.getFileName.toString)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)

  /** Highest published version under `root`; 0 when none. */
  def latestVersion(root: Path): Long =
    versions(root).foldLeft(0L)(math.max)

  /** Highest version strictly below `id` — the replay-idempotent
    * foldBatch read rule (batch `id` folds from state produced by
    * earlier batches only, so a replay sees exactly its original
    * input). */
  def latestBefore(root: Path, id: Long): Option[Long] =
    versions(root).filter(_ < id).maxOption

  /** Drop superseded versions, keeping the newest `keep`. */
  def prune(root: Path, keep: Int): Unit =
    versions(root).sorted(Ordering[Long].reverse).drop(keep)
      .foreach(v => drop(root.resolve("v" + v)))

  /** The entries of `dir`; empty when it does not exist. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.toList finally st.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }
}
