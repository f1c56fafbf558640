package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.etl.Commit

/** Hash-bucketed, manifest-layered versioned state store — the shared
  * publication layer for the streaming fold stores ([[RollupStream]],
  * [[Scd2Stream]], [[AttributionStream]], [[FunnelStream]]).
  *
  * Why it exists: the r16 stores versioned their state by FULL rewrite —
  * batch `id` read the previous complete state and wrote a complete
  * `v<id>` — which is replay-idempotent but O(|state|) write cost per
  * micro-batch: at 10⁹ users a batch touching 0.01% of them still
  * rewrote the whole user-grain table, every trigger. This store keeps
  * the exact same versioned-read discipline (batch `id` folds from the
  * latest version STRICTLY BELOW `id`; `v<id>` lands by staged swap;
  * a replay rebuilds `v<id>` from identical inputs) but makes the
  * per-batch WRITE proportional to the batch: state rows hash-bucket by
  * key (`pmod(hash(keys), buckets)` — Spark's deterministic Murmur3),
  * a fold rewrites ONLY the buckets containing the batch's keys, and
  * each version's `_manifest` maps every bucket to the version that
  * owns its current content — untouched buckets are REFERENCED, never
  * copied (the [[graft.text.LabelStore]] touched-bucket recipe, lifted
  * from delta-segments to immutable version layers; on an object store
  * the manifest plays the role hardlinks would on a local FS).
  *
  * Layout under `storeDir`:
  * {{{
  *   v<id>/_manifest      # properties: buckets=<n>, b<bucket>=<owner>
  *   v<id>/_schema.json   # state schema (empty-slice reads need it)
  *   v<id>/_sb=<b>/ …parquet   # ONLY the buckets batch <id> touched
  * }}}
  * Underscore names keep the sidecars invisible to parquet readers
  * (`_sb=<b>` stays visible — Spark only hides `_`-names without `=`).
  * A bucket the manifest maps to `v` but whose `_sb=<b>` dir does not
  * exist under `v` is EMPTY (the fold emptied it) — emptied buckets
  * must override their previous owner, so touched buckets always map
  * to the writing version, dir or no dir.
  *
  * Fold contract (the caller's side): the fold must be KEY-LOCAL — a
  * key's next state depends only on that key's stored rows and the
  * batch — so feeding it the touched-bucket slice instead of the full
  * state is exact, and its output contains only keys from touched
  * buckets ([[publish]] verifies the written dirs stay inside the
  * touched set). All four stream folds are key-local by construction.
  *
  * Version slots: micro-batch `id` claims version `2·id` (the EVEN
  * slot) and a compaction claims the ODD slot directly above the
  * version it compacts. This keeps compaction OUT of the batch-id
  * namespace: batch `id` reads the latest version strictly below
  * `2·id` — which correctly includes a compaction of any earlier
  * batch's state — and a replay of batch `id` deletes only its own
  * even slot, never a compaction. (A compaction claiming `latest + 1`
  * in batch-id space would collide with the NEXT micro-batch: the
  * batch would treat the compacted version as its own stale replay
  * output, delete it, and — after a prune — silently reinitialize the
  * whole state from one batch.) Checkpoint batch ids are tiny, so the
  * ×2 can never overflow.
  *
  * Retention: [[prune]] keeps the newest `keep` versions PLUS every
  * version their manifests still reference (layering makes old
  * versions live until every bucket they own is rewritten); unlike the
  * r16 full-snapshot stores, dropping to `keep = 1` is safe only
  * between batches — the default 2 preserves the replay input of the
  * newest batch. [[compact]] rewrites everything into one version for
  * lineage hygiene; because it owns its own slot it is durable on a
  * LIVE store (later folds layer on top of it). */
object BucketedStateStore {

  /** The version slot micro-batch `id` publishes to. */
  private[streaming] def foldSlot(id: Long): Long = id << 1

  /** The version a fold of batch `id` reads: the latest slot strictly
    * below the batch's own — the previous batch's fold or a compaction
    * of it, whichever is newer. */
  def prevVersion(root: Path, id: Long): Option[Long] =
    Commit.latestBefore(root, foldSlot(id))

  /** What one fold's publication cost: `touched` buckets rewritten out
    * of `buckets` total, `bytesWritten` = staged parquet + sidecars —
    * the evidence column for the bytes-∝-touched-buckets claim
    * (`tools/FoldBench`). */
  case class FoldStats(version: Long, buckets: Int, touched: Int,
                       bytesWritten: Long)

  /** The deterministic bucket of a key tuple. Murmur3 `hash` is stable
    * across sessions/versions (seed 42), so a key's bucket never
    * moves while `buckets` is fixed. */
  def bucketCol(keyCols: Seq[String], buckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(buckets))

  /** The distinct buckets a batch's keys hash into — a bounded driver
    * collect (≤ `buckets` values, the LabelStore fold's budget). */
  def touchedBuckets(batch: DataFrame, keyCols: Seq[String],
                     buckets: Int): Seq[Int] =
    batch.select(bucketCol(keyCols, buckets).as("_sb")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** One micro-batch's fold, end to end: resolve the previous version,
    * read the touched slice, fold, publish `v<id>`. `init` builds the
    * first version's state straight from the batch (no previous
    * version); `fold` takes (touched slice, batch). Factored so every
    * stream's foldBatch is these same five steps.
    *
    * `bucketedFiles = true` additionally writes every `_sb=<b>` dir's
    * parquet through Spark's bucketed writer (bucket id encoded in the
    * file name — identical to `_sb` because both are
    * `pmod(murmur3(keys), buckets)`), which lets
    * [[readLatestBucketedTable]] expose `HashPartitioning(keys)` to
    * readers with ZERO exchange. Folds and [[readAll]] are
    * byte-compatible either way; only the bucketed-table read path
    * requires it. */
  def foldBatch(batch: DataFrame, id: Long, storeDir: String,
                keyCols: Seq[String], buckets: Int,
                init: DataFrame => DataFrame,
                fold: (DataFrame, DataFrame) => DataFrame,
                bucketedFiles: Boolean = false): FoldStats = {
    val s = batch.sparkSession
    val root = Paths.get(storeDir)
    Files.createDirectories(root)
    Commit.recover(root)
    val touched = touchedBuckets(batch, keyCols, buckets)
    val prev = prevVersion(root, id)
    val next = prev match {
      case Some(v) => fold(readSlice(s, root, v, touched, buckets), batch)
      case None    => init(batch)
    }
    publish(next, root, id, prev, touched, keyCols, buckets,
      bucketedFiles)
  }

  /** Read EXACTLY the `touched` buckets of version `version` — each
    * bucket from the version its manifest names, all dirs in one read
    * (missing dirs are empty buckets; zero dirs yields an empty frame
    * with the stored schema). */
  def readSlice(s: SparkSession, root: Path, version: Long,
                touched: Seq[Int], buckets: Int): DataFrame = {
    val vdir = root.resolve(s"v$version")
    val (storedBuckets, owners) = readManifest(vdir)
    require(storedBuckets == buckets,
      s"state store at $root was published with buckets=$storedBuckets " +
        s"but the caller passed buckets=$buckets — bucket-keyed reads " +
        "would silently miss keys; republish or pass the stored count")
    readOwned(s, root, vdir,
      touched.flatMap(b => owners.get(b).map(b -> _)))
  }

  /** The complete state at `version` (every owned bucket). */
  def readAllAt(s: SparkSession, root: Path, version: Long): DataFrame = {
    val vdir = root.resolve(s"v$version")
    readOwned(s, root, vdir, readManifest(vdir)._2.toSeq)
  }

  /** (bucket count, bucket → owner version) of a version — the public
    * manifest view (consumers: delta-serve coverage checks that need
    * "which buckets changed after version X"). */
  def bucketOwners(root: Path, version: Long): (Int, Map[Int, Long]) =
    readManifest(root.resolve(s"v$version"))

  /** The newest version number; None for an empty store. */
  def latestVersion(root: Path): Option[Long] =
    Commit.versions(root).maxOption

  /** The stored state schema of `version` (the `_schema.json` sidecar
    * empty-slice reads use). Consumers: fold-time LAYOUT guards that
    * must refuse a previous version whose schema predates a column the
    * fold now maintains ([[graft.analytics.EdgeFold]]'s degree column
    * — an old 3-column layer under a new 4-column fold would null-fill
    * the missing column on read and silently corrupt downstream
    * aggregates). */
  def storedSchema(root: Path, version: Long): StructType =
    DataType.fromJson(Files.readString(
      schemaPath(root.resolve(s"v$version")))).asInstanceOf[StructType]

  /** The complete state at the latest version; loud error when the
    * store has no version yet. */
  def readAll(s: SparkSession, root: Path, what: String): DataFrame = {
    val v = Commit.versions(root).maxOption
      .getOrElse(sys.error(s"no $what state under $root"))
    readAllAt(s, root, v)
  }

  private def readOwned(s: SparkSession, root: Path, vdir: Path,
                        owned: Seq[(Int, Long)]): DataFrame = {
    val schema = DataType.fromJson(Files.readString(schemaPath(vdir)))
      .asInstanceOf[StructType]
    val dirs = owned
      .map { case (b, v) => root.resolve(s"v$v").resolve(s"_sb=$b") }
      .filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty)
      s.createDataFrame(new java.util.ArrayList[Row](), schema)
    else s.read.schema(schema).parquet(dirs: _*)
  }

  /** Stage `nextSlice` bucket-partitioned, write the layered manifest
    * (touched → batch `id`'s slot, everything else → its previous
    * owner), land `v<2·id>` by [[graft.etl.Commit.swap]] — a replay
    * replaces its own output, rebuilt from identical inputs. `prev` is
    * an internal version number as returned by [[prevVersion]]. */
  def publish(nextSlice: DataFrame, root: Path, id: Long,
              prev: Option[Long], touched: Seq[Int],
              keyCols: Seq[String], buckets: Int,
              bucketedFiles: Boolean = false): FoldStats = {
    val prevOwners = prev
      .map(v => readManifest(root.resolve(s"v$v"))._2)
      .getOrElse(Map.empty[Int, Long])
    publishAt(nextSlice, root, foldSlot(id), prevOwners, touched,
      keyCols, buckets, bucketedFiles)
  }

  private def publishAt(nextSlice: DataFrame, root: Path, version: Long,
                        prevOwners: Map[Int, Long], touched: Seq[Int],
                        keyCols: Seq[String], buckets: Int,
                        bucketedFiles: Boolean = false): FoldStats = {
    val tmp = Commit.stage(root)
    val staged = nextSlice.withColumn("_sb", bucketCol(keyCols, buckets))
      .repartition(col("_sb"))
    if (bucketedFiles) {
      // bucketBy can only write through saveAsTable (the EdgeIndex
      // staging trick): EXTERNAL table at the tmp path, drop the
      // catalog entry, the bucket-named files stay. `_sb` equals the
      // in-file bucket id (same pmod∘murmur3), so each `_sb=<b>` dir
      // holds exactly its bucket-b file(s).
      val stage = "graft_state_stage_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val s = nextSlice.sparkSession
      try staged.write.mode("overwrite").partitionBy("_sb")
        .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
        .option("path", tmp.toString).saveAsTable(stage)
      finally s.sql(s"DROP TABLE IF EXISTS $stage")
    } else
      staged.write.mode("overwrite").partitionBy("_sb")
        .parquet(tmp.toString)
    // key-locality guard: a fold that emitted keys OUTSIDE the touched
    // buckets would write dirs the manifest never references — fail
    // loudly instead of silently serving the previous owner's rows
    val written = listBucketDirs(tmp)
    val stray = written.filterNot(touched.contains)
    require(stray.isEmpty,
      s"fold emitted keys outside its touched buckets ($stray ⊄ " +
        s"$touched) — the fold is not key-local; its output would be " +
        "invisible behind the manifest's previous owners")
    Files.writeString(schemaPath(tmp), nextSlice.schema.json)
    writeManifest(tmp, buckets,
      prevOwners ++ touched.map(_ -> version),
      if (bucketedFiles) Some(keyCols) else None)
    val bytes = dirBytes(tmp)
    // a replay replaces its own stale output
    Commit.swap(root.resolve(s"v$version"), tmp)
    // any landed version (new slot OR same-path replay) invalidates
    // this JVM's table-registration fast path for the root — the next
    // bucketed read re-registers and re-lists (REFRESH). The NAME is
    // kept (version flipped to the -1 sentinel): the next registration
    // still drops the superseded version's table through it.
    registeredTables.computeIfPresent(root.toString,
      (_, e) => (-1L, e._2))
    FoldStats(version, buckets, touched.size, bytes)
  }

  /** Drop superseded versions, keeping the newest `keep` AND every
    * version their manifests still reference (a layered version stays
    * live until all its buckets are rewritten). */
  def prune(storeDir: String, keep: Int = 2): Unit = {
    val root = Paths.get(storeDir)
    val vs = Commit.versions(root).sorted(Ordering[Long].reverse)
    val kept = vs.take(keep)
    val live = kept.toSet ++ kept.flatMap(v =>
      readManifest(root.resolve(s"v$v"))._2.values)
    vs.drop(keep).filterNot(live)
      .foreach(v => Commit.drop(root.resolve(s"v$v")))
  }

  /** Rewrite the latest version's full state into a single
    * self-contained version (every bucket owned locally), claimed as
    * the ODD slot directly above it — after which [[prune]] can retire
    * every layer. The odd slot keeps the compaction outside the
    * batch-id namespace, so it is durable on a LIVE store: the next
    * micro-batch reads it (it is the latest version strictly below
    * that batch's own slot) and layers on top, rather than mistaking
    * it for stale replay output. A latest version that is already a
    * compaction is self-contained — no-op. Call on lineage-hygiene
    * cadence, not per batch. */
  def compact(s: SparkSession, storeDir: String,
              keyCols: Seq[String]): Long = {
    val root = Paths.get(storeDir)
    val latest = Commit.versions(root).maxOption
      .getOrElse(sys.error(s"no state to compact under $root"))
    if (latest % 2 == 1) return latest // already a compaction
    // a bucketed-files store stays bucketed-files across compaction —
    // the readLatestBucketedTable contract must survive lineage hygiene
    compactWith(s, storeDir, keyCols, identity,
      bucketedFiles = bucketedKeys(root.resolve(s"v$latest")).isDefined)
  }

  /** [[compact]] with a state TRANSFORM — the layout-migration
    * primitive: rewrite the latest version's FULL state through
    * `transform` into one self-contained version in the compaction
    * (odd-slot) namespace ([[graft.analytics.EdgeFold]]'s
    * `migrateDegrees` recomputes a maintained column for every bucket
    * this way, and can flip a plain store to `bucketedFiles`). Unlike
    * [[compact]] it never no-ops: an odd latest claims the next ODD
    * slot above it (`latest + 2`), staying outside the batch-id
    * namespace either way. The transform must preserve the key
    * columns' values (the key-locality guard enforces the bucket side
    * of that). */
  def compactWith(s: SparkSession, storeDir: String,
                  keyCols: Seq[String],
                  transform: DataFrame => DataFrame,
                  bucketedFiles: Boolean): Long = {
    val root = Paths.get(storeDir)
    val latest = Commit.versions(root).maxOption
      .getOrElse(sys.error(s"no state to compact under $root"))
    val buckets = readManifest(root.resolve(s"v$latest"))._1
    val target = if (latest % 2 == 1) latest + 2 else latest + 1
    publishAt(transform(readAllAt(s, root, latest)), root, target,
      Map.empty, (0 until buckets), keyCols, buckets,
      bucketedFiles).version
  }

  private def schemaPath(vdir: Path) = vdir.resolve("_schema.json")

  /** The layout-scheme tag every manifest carries ([[foldSlot]]'s
    * even/odd slot versioning). A store published by PRE-slot code
    * (raw `v<id>` per batch, no tag) must NOT be read silently: under
    * the slot scheme, replaying legacy batch `k` would resolve
    * `prevVersion = latestBefore(2k) = v<k>` — the batch's OWN old
    * output — and fold the batch into state that already contains it
    * (a silent double count); [[compact]] would likewise mistake a
    * legacy odd batch id for an existing compaction. [[readManifest]]
    * therefore fails loudly on any manifest without this tag (or with
    * no manifest at all), instructing a rebuild. */
  private[streaming] val layoutScheme = "slot2"

  /** (bucket count, bucket → owner version) from a version's manifest.
    * Loud on a pre-slot-scheme store — see [[layoutScheme]]. */
  private[streaming] def readManifest(vdir: Path): (Int, Map[Int, Long]) = {
    val props = new java.util.Properties()
    val mf = vdir.resolve("_manifest")
    require(Files.isRegularFile(mf),
      s"state store version $vdir has no _manifest — this directory " +
        "was written by a pre-bucketed (full-rewrite) store layout; " +
        "reading it under the slot-versioned scheme would silently " +
        "double-fold replayed batches. Rebuild the store (wipe the " +
        "directory and re-fold from the checkpointed source).")
    val in = Files.newInputStream(mf)
    try props.load(in) finally in.close()
    // tag-less ≠ pre-slot: a manifest with no scheme property was
    // written by the slot-layout release that predates tagging — the
    // LAYOUT is compatible, only the stamp is missing (r18 ADVICE).
    // Point at the one-time migration instead of demanding a rebuild.
    require(props.getProperty("scheme") != null,
      s"state store version $vdir has a _manifest without a scheme " +
        "tag — written by the slot-layout release that predates " +
        "scheme tagging. The layout is compatible; run " +
        "BucketedStateStore.migrateScheme(storeDir) once (it verifies " +
        "slot-shape evidence per version and stamps scheme=" +
        s"$layoutScheme in place, no data rewrite).")
    require(props.getProperty("scheme") == layoutScheme,
      s"state store version $vdir was published under scheme " +
        s"'${props.getProperty("scheme")}' but this code reads " +
        s"'$layoutScheme' (even fold slots / odd compaction slots) — " +
        "version numbers would be misinterpreted as batch ids. " +
        "Rebuild the store from the checkpointed source.")
    import scala.jdk.CollectionConverters._
    val owners = props.stringPropertyNames().asScala.toSeq
      .filter(_.matches("b\\d+"))
      .map(k => k.drop(1).toInt -> props.getProperty(k).toLong).toMap
    (props.getProperty("buckets").toInt, owners)
  }

  private def writeManifest(vdir: Path, buckets: Int,
                            owners: Map[Int, Long],
                            bucketedKeys: Option[Seq[String]]): Unit = {
    val props = new java.util.Properties()
    props.setProperty("scheme", layoutScheme)
    props.setProperty("buckets", buckets.toString)
    bucketedKeys.foreach(ks =>
      props.setProperty("bucketed_keys", ks.mkString(",")))
    owners.foreach { case (b, v) =>
      props.setProperty(s"b$b", v.toString) }
    val out = Files.newOutputStream(vdir.resolve("_manifest"))
    try props.store(out, "graft bucketed state manifest")
    finally out.close()
  }

  /** The bucket key columns a version's files were bucket-NAMED under
    * (`bucketed_keys` manifest property), None for a plain publish. */
  private[streaming] def bucketedKeys(vdir: Path): Option[Seq[String]] = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(vdir.resolve("_manifest"))
    try props.load(in) finally in.close()
    Option(props.getProperty("bucketed_keys"))
      .map(_.split(",").toSeq)
  }

  /** The latest state as a session-catalog EXTERNAL table that exposes
    * the store's bucketing to Catalyst: `CLUSTERED BY (keys)` with one
    * `ADD PARTITION (_sb=b) LOCATION <owner-version>/_sb=b` per owned
    * bucket — the manifest-composed layers become ONE bucketed scan
    * reporting `HashPartitioning(keys, buckets)`, so joins/aggregations
    * on the keys run with ZERO exchange on the state side (the
    * [[graft.analytics.EdgeIndex]] co-location property, inherited from
    * the store's own layout instead of re-established by a per-serve
    * repartition). The returned frame excludes the `_sb` partition
    * column.
    *
    * Requires every OWNER version to have been published with
    * `bucketedFiles = true` (bucket ids live in the file names; a plain
    * publish's files carry none and a bucketed read would refuse them
    * at scan time with a file-level error) — checked loudly up front
    * per owner manifest. Local-FS and object-store alike: partitions
    * are registered by reference, no file is copied or linked. */
  def readLatestBucketedTable(s: SparkSession, storeDir: String,
                              what: String): DataFrame = {
    val (name, schema) = latestBucketedTable(s, storeDir, what)
    s.table(name).select(schema.fieldNames.map(col): _*)
  }

  /** The latest state RESTRICTED to the given buckets, as a
    * partition-pruned scan of the same composed bucketed table: the
    * scan lists and reads ONLY the named `_sb` dirs (static partition
    * pruning) and still reports `HashPartitioning(keys, buckets)` —
    * bucketing is per-file, so a subset of partitions stays correctly
    * bucketed. THE slice-scale read for serves whose working set is a
    * key neighborhood, not the corpus (the q210 rank delta-serve's hop
    * reads): IO ∝ touched buckets, never |state|. */
  def readLatestBucketedSlice(s: SparkSession, storeDir: String,
                              what: String,
                              slice: Seq[Int]): DataFrame = {
    val (name, schema) = latestBucketedTable(s, storeDir, what)
    val cond = if (slice.isEmpty) lit(false) // an empty slice is empty
               else col("_sb").isin(slice: _*)
    s.table(name).filter(cond)
      .select(schema.fieldNames.map(col): _*)
  }

  private def latestBucketedTable(s: SparkSession, storeDir: String,
                                  what: String): (String, StructType) = {
    val root = Paths.get(storeDir)
    val version = Commit.versions(root).maxOption
      .getOrElse(sys.error(s"no $what state under $root"))
    val vdir = root.resolve(s"v$version")
    val (buckets, owners) = readManifest(vdir)
    val keyCols = bucketedKeys(vdir).getOrElse(sys.error(
      s"state store version $vdir was not published with " +
        "bucketedFiles=true — its parquet files carry no bucket ids, " +
        "so a bucketed-table read would fail at scan time. Re-publish " +
        "(or compact) the store with bucketedFiles=true, or read it " +
        "through readAll."))
    owners.values.toSeq.distinct.filter(_ != version).foreach { v =>
      require(bucketedKeys(root.resolve(s"v$v")).contains(keyCols),
        s"owner version v$v under $root is not bucketed-files under " +
          s"keys ${keyCols.mkString(",")} — mixed-layout layers cannot " +
          "compose into one bucketed table; compact the store first.")
    }
    val schema = DataType.fromJson(Files.readString(schemaPath(vdir)))
      .asInstanceOf[StructType]
    // name keys on (root, version): a new version is a new partition
    // map, a same-path replay rebuilds identical owners (REFRESH drops
    // any stale file listing)
    val name = "graft_state_" + java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"$root#v$version".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    // registration fast path: the name keys on (root, version) and a
    // version's owner map is immutable (a same-path replay rebuilds it
    // identically), so a table already registered in this JVM needs no
    // re-DDL and no REFRESH — a serve loop pays registration (DDL +
    // partition/file listing) once per version, not once per read (the
    // r20 probes measured per-read DDL at ~1 s and per-read REFRESH as
    // the delta serve's dominant cost: every REFRESH forces the next
    // scan to re-list all partitions). [[publishAt]] invalidates the
    // entry when it lands ANY version under the root, so a same-path
    // replay in this JVM re-registers and re-lists.
    val already = Option(registeredTables.get(root.toString))
      .exists { case (v, n) => v == version && n == name } &&
      s.catalog.tableExists(name)
    if (!already) {
      try s.sql(
        s"""CREATE TABLE IF NOT EXISTS $name (${schema.toDDL}, _sb INT)
            USING parquet PARTITIONED BY (_sb)
            CLUSTERED BY (${keyCols.mkString(", ")}) INTO $buckets BUCKETS
            LOCATION '$root'""")
      catch { case _: org.apache.spark.sql.AnalysisException => () }
      // ONE batched ADD for all owned buckets (64 single-partition DDL
      // round trips measured as the bulk of the registration cost)
      val parts = owners.toSeq.sortBy(_._1).flatMap { case (b, v) =>
        val loc = root.resolve(s"v$v").resolve(s"_sb=$b")
        // a missing dir is an emptied bucket
        if (Files.isDirectory(loc))
          Some(s"PARTITION (_sb=$b) LOCATION '$loc'")
        else None
      }
      if (parts.nonEmpty)
        s.sql(s"ALTER TABLE $name ADD IF NOT EXISTS ${parts.mkString(" ")}")
      // drops any stale file listing a same-path replay left behind —
      // registration-time only (see the fast-path note above)
      s.sql(s"REFRESH TABLE $name")
    }
    // catalog hygiene (r19 ADVICE): a serve-after-every-fold loop
    // otherwise grows the session catalog one table per (root, version)
    // forever. The superseded version's name is recorded here (JVM-
    // scoped, like the in-memory catalog itself) and dropped on the
    // next registration — external table, so no file is touched.
    // Contract: the previous version's frame must have been FORCED
    // before the next fold+read cycle (the managed-scope serves
    // already guarantee this); a truly concurrent older-version read
    // keeps its newer sibling registered and leaks nothing new.
    Option(registeredTables.put(root.toString, (version, name)))
      .foreach { case (pv, pname) =>
        if (pv > version) registeredTables.put(root.toString, (pv, pname))
        else if (pname != name) s.sql(s"DROP TABLE IF EXISTS $pname")
      }
    (name, schema)
  }

  /** store root → (version, catalog table) of the latest
    * [[readLatestBucketedTable]] registration, for superseded-table
    * cleanup. */
  private val registeredTables =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** One-time scheme-tag migration for stores written by the slot-
    * layout release that PREDATES the `scheme` manifest property (their
    * layout is already [[layoutScheme]]-shaped — even fold slots, odd
    * compaction slots, layered manifests — only the tag is missing, so
    * [[readManifest]]'s refusal is over-broad for them; r18 ADVICE).
    * Verifies slot-shape evidence per version (a `_manifest` with a
    * `buckets` property AND a `_schema.json` — the genuinely pre-slot
    * full-rewrite layout had neither) and stamps `scheme=slot2`
    * in place, preserving every other property. Returns the number of
    * versions stamped; versions already tagged are left alone; any
    * version tagged with a DIFFERENT scheme aborts the migration
    * before touching the store. */
  def migrateScheme(storeDir: String): Int = {
    val root = Paths.get(storeDir)
    val vs = Commit.versions(root)
    require(vs.nonEmpty, s"no state versions under $root")
    val loaded = vs.map { v =>
      val vdir = root.resolve(s"v$v")
      val mf = vdir.resolve("_manifest")
      require(Files.isRegularFile(mf) &&
          Files.isRegularFile(schemaPath(vdir)),
        s"version v$v under $root has no _manifest/_schema.json — this " +
          "store (or this version) was written by the pre-bucketed " +
          "full-rewrite layout; migration cannot make it slot-safe. " +
          "Rebuild the store from the checkpointed source.")
      val props = Commit.readProps(mf)
      require(props.contains("buckets"),
        s"version v$v under $root has a _manifest without a buckets " +
          "property — not a slot-layout store; rebuild it.")
      val scheme = props.get("scheme")
      require(scheme.forall(_ == layoutScheme),
        s"version v$v under $root is tagged scheme='${scheme.get}' — " +
          "refusing to restamp a foreign layout.")
      (mf, props, scheme.isEmpty)
    }
    loaded.filter(_._3).map { case (mf, props, _) =>
      Commit.writeProps(mf, (props + ("scheme" -> layoutScheme)).toSeq: _*)
      1
    }.sum
  }

  private def listBucketDirs(dir: Path): Seq[Int] = {
    val st = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_sb=")).map(_.drop(4).toInt).toSeq
    } finally st.close()
  }

  private def dirBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_))
      .mapToLong(f => Files.size(f)).sum()
    finally st.close()
  }
}
